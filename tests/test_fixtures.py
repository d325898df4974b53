"""Fixture materialization is host-independent: the media part-file
layout is a function of the corpus size only, not of the core count."""

import os

import pyarrow.parquet as pq

from fin_ocr_sdk_spark.sources import tables


class _SerialPool:
    """In-process stand-in for ProcessPoolExecutor (keeps the test to
    one process whatever core count is pretended)."""

    def __init__(self, max_workers=None):
        self.max_workers = max_workers

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def map(self, fn, it):
        return map(fn, it)


def _layout(out_dir):
    media = os.path.join(out_dir, "media.parquet")
    return {p: pq.read_table(os.path.join(media, p),
                             columns=["media_ref"]).column(0).to_pylist()
            for p in sorted(os.listdir(media))}


def test_media_layout_ignores_core_count(tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "ProcessPoolExecutor", _SerialPool)
    layouts = {}
    for cpus in (4, 32):
        monkeypatch.setattr(os, "cpu_count", lambda cpus=cpus: cpus)
        out = str(tmp_path / f"cpus{cpus}")
        tables.materialize_fixtures(out, 20)
        layouts[cpus] = _layout(out)
    # 20 docs -> ceil(20/16) = 2 docs per part
    assert list(layouts[4]) == [f"part-{i:05d}.parquet" for i in range(10)]
    assert layouts[4] == layouts[32]
    assert all(len(refs) == 2 for refs in layouts[4].values())
