"""The north rule's deployment shape: the job must run via
``spark-submit --py-files <package.zip>`` with no repo on sys.path —
exactly what a multi-executor cluster sees."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from fin_ocr_sdk_spark.sources.tables import fixture_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(tmp_path, smoke, out, *extra):
    """Run scripts/submit_extract.py under spark-submit with only the
    packaged zip on the path; returns its RESULT stats."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts",
                                      "package_pyfiles.py")],
        capture_output=True, text=True, check=True).stdout.strip()
    # cwd OUTSIDE the repo: imports must resolve from the zip alone
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "submit_extract.py"),
         "--input-dir", smoke, "--out", out, *extra],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420)
    assert res.returncode == 0, res.stderr[-2000:]
    line = next(ln for ln in res.stdout.splitlines()
                if ln.startswith("RESULT "))
    return json.loads(line[len("RESULT "):])


def _assert_golden_spans(smoke, out, stats):
    got = (pd.read_parquet(os.path.join(out, "spans"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    assert stats["rows"] == len(exp)
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_spark_submit_pyfiles(tmp_path):
    smoke = fixture_dir("smoke", 16)
    out = str(tmp_path / "out")
    _assert_golden_spans(smoke, out, _submit(tmp_path, smoke, out))


def test_spark_submit_resumable_twice(tmp_path):
    """Two --resumable jobs into one --out: the second resumes from the
    first's committed lineage, and both leave the golden spans at
    --out/spans (the final table must not overwrite the lineage
    state it is assembled from)."""
    smoke = fixture_dir("smoke", 16)
    out = str(tmp_path / "out")
    first = _submit(tmp_path, smoke, out, "--resumable")
    assert (first["scanned_files"], first["skipped_files"]) == (16, 0)
    _assert_golden_spans(smoke, out, first)
    second = _submit(tmp_path, smoke, out, "--resumable")
    assert (second["scanned_files"], second["skipped_files"]) == (0, 16)
    _assert_golden_spans(smoke, out, second)
