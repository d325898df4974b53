"""Resumable extraction: per-partition lineage, checkpoint/resume,
orphan invisibility, and final span equality after a resumed run."""

import json
import os
import time
import urllib.request
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                             committed_lineage,
                                             emitted_spans,
                                             run_resumable_extract)
from fin_ocr_sdk_spark.sources.tables import fixture_dir


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-lineage", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_dir():
    return fixture_dir("smoke", 16)


def _assert_golden(spark, docs, smoke_dir, out_dir):
    """The assembled output of ``out_dir`` equals expected_spans."""
    emitted = emitted_spans(spark, out_dir)
    got = (assemble_output(docs, emitted).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_resume_from_partial_run(spark, smoke_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("lineage_out"))
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    all_parts = sorted(os.listdir(media_dir))
    assert len(all_parts) >= 2

    # --- run 1: read only half the media part files (same paths as the
    # full table) — simulates a run that died after committing some
    # partitions
    half = [os.path.join(media_dir, p) for p in all_parts[: len(all_parts) // 2]]
    media_half = spark.read.parquet(*half)
    r1 = run_resumable_extract(spark, docs, media_half, out_dir)
    assert r1.scanned_files == len(half)
    assert r1.skipped_files == 0

    # an orphan span file without a lineage row must stay invisible
    orphan = os.path.join(out_dir, "spans", "deadbeef00000000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet commit")

    # --- run 2: full media; only the remaining files get scanned
    media_full = spark.read.parquet(media_dir)
    r2 = run_resumable_extract(spark, docs, media_full, out_dir)
    assert r2.scanned_files == len(all_parts) - len(half)
    assert r2.skipped_files == len(half)
    # --- run 3: everything committed → pure no-op
    r3 = run_resumable_extract(spark, docs, media_full, out_dir)
    assert r3.scanned_files == 0
    assert r3.skipped_files == len(all_parts)

    lineage = committed_lineage(spark, out_dir).toPandas()
    assert lineage["partition_id"].is_unique
    assert (lineage["doc_count"] > 0).all()
    assert (lineage["span_count"] == lineage["doc_count"] * 4).all()
    assert lineage["checksum"].str.len().eq(32).all()

    # --- final assembled output equals the golden table
    _assert_golden(spark, docs, smoke_dir, out_dir)


def test_resume_many_files(spark, smoke_dir, tmp_path_factory):
    """Scale-shape check for the anti-join resume: 200 media part files,
    a partial first run, then a resumed full run — no driver-side set
    diff, counts exact, all committed spans visible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    base = pq.read_table(os.path.join(smoke_dir, "media.parquet"))
    media_dir = str(tmp_path_factory.mktemp("many_media"))
    n_files = 200
    for i in range(n_files):
        src = base.slice(i % base.num_rows, 1)
        pq.write_table(pa.table({
            "media_ref": [f"img-m{i:05d}"],
            "format": src.column("format").to_pylist(),
            "image": pa.array(src.column("image").to_pylist(),
                              type=pa.binary()),
        }), os.path.join(media_dir, f"part-{i:05d}.parquet"))
    out_dir = str(tmp_path_factory.mktemp("many_out"))
    first = [os.path.join(media_dir, f"part-{i:05d}.parquet")
             for i in range(120)]
    r1 = run_resumable_extract(spark, docs, spark.read.parquet(*first),
                               out_dir)
    assert (r1.scanned_files, r1.skipped_files) == (120, 0)
    r2 = run_resumable_extract(
        spark, docs, spark.read.parquet(media_dir), out_dir)
    assert (r2.scanned_files, r2.skipped_files) == (80, 120)
    assert emitted_spans(spark, out_dir).count() == n_files * 4


def test_checksum_is_deterministic(spark, smoke_dir, tmp_path_factory):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    out_a = str(tmp_path_factory.mktemp("out_a"))
    out_b = str(tmp_path_factory.mktemp("out_b"))
    run_resumable_extract(spark, docs, media, out_a)
    run_resumable_extract(spark, docs, media, out_b)
    la = (committed_lineage(spark, out_a).toPandas()
          .sort_values("partition_id").reset_index(drop=True))
    lb = (committed_lineage(spark, out_b).toPandas()
          .sort_values("partition_id").reset_index(drop=True))
    assert (la["checksum"] == lb["checksum"]).all()
    assert (la["partition_id"] == lb["partition_id"]).all()


def _spark_rest(spark, path):
    """GET from the application's monitoring REST API (the UI port)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://127.0.0.1:{port}/api/v1/applications/"
           f"{sc.applicationId}{path}")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _jobs_of(spark, group):
    """Ids of the jobs started under job group ``group``, all finished.
    The listener bus delivers events in order, so once a marker job run
    afterwards shows as finished, no earlier job is missing."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"{group}-barrier-{time.monotonic_ns()}"
    with _job_group(sc, marker, "listener barrier"):
        sc.parallelize([0], 1).count()
    deadline = time.time() + 30
    while not any(tracker.getJobInfo(j).status == "SUCCEEDED"
                  for j in tracker.getJobIdsForGroup(marker)):
        assert time.time() < deadline, "listener bus did not drain"
        time.sleep(0.1)
    return tracker.getJobIdsForGroup(group)


def _scan_tasks(spark, group, run_id):
    """numTasks of the stage that ran the lineage kernel in run
    ``run_id``, started under job group ``group``: the one stage of the
    run's one ``scan`` job."""
    tracker = spark.sparkContext.statusTracker()
    scan = [j for j in _jobs_of(spark, group)
            if _spark_rest(spark, f"/jobs/{j}")["description"]
            == f"lineage {run_id}: scan"]
    assert len(scan) == 1, f"run {run_id} started {len(scan)} scan jobs"
    (stage_id,) = tracker.getJobInfo(scan[0]).stageIds
    return tracker.getStageInfo(stage_id).numTasks


@pytest.fixture
def task_log(monkeypatch, tmp_path):
    """Wraps the lineage kernel so each scan task appends the paths it
    scans to ``<log>/<stage>-<partition>-<attempt>``; yields a reader
    returning the files-per-task counts logged since the last read."""
    from fin_ocr_sdk_spark.plans import lineage as L
    log_dir = str(tmp_path / "task_log")
    os.makedirs(log_dir)
    real = L.make_lineage_kernel

    def logged_kernel(*args, **kwargs):
        kernel = real(*args, **kwargs)

        def logged(batches):
            from pyspark import TaskContext
            tc = TaskContext.get()
            name = f"{tc.stageId()}-{tc.partitionId()}-{tc.attemptNumber()}"
            for pdf in batches:
                with open(os.path.join(log_dir, name), "a") as f:
                    f.writelines(p + "\n" for p in pdf["path"])
                yield from kernel(iter([pdf]))
        return logged

    monkeypatch.setattr(L, "make_lineage_kernel", logged_kernel)

    def files_per_task():
        counts = []
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as f:
                counts.append(len(f.read().split()))
            os.remove(os.path.join(log_dir, name))
        return sorted(counts)
    return files_per_task


@contextmanager
def _job_group(sc, group, description):
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


def _n_lineage_files(out_dir):
    return sum(f.startswith("part-") and f.endswith(".parquet")
               for f in os.listdir(os.path.join(out_dir, "lineage")))


def test_resumable_scan_is_parallel(spark, smoke_dir, tmp_path_factory,
                                    task_log):
    """The lineage kernel runs in min(n_pending, 2*defaultParallelism)
    tasks — the one-file lineage commit must not fold the scan into
    one task — and while n_pending <= 2*cores no task scans two files.
    Each run still appends exactly one lineage file, and a resumed run
    assembles the golden spans."""
    sc = spark.sparkContext
    slots = 2 * sc.defaultParallelism
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    parts = sorted(os.listdir(media_dir))
    assert len(parts) > slots  # smoke is 16 parts on every host

    def run(media, out_dir, group):
        with _job_group(sc, group, "lineage parallel-scan test"):
            return run_resumable_extract(spark, docs, media, out_dir)

    # 3-file subset: 3 tasks, one file each
    out_dir = str(tmp_path_factory.mktemp("parallel_out"))
    subset = spark.read.parquet(*[os.path.join(media_dir, p)
                                  for p in parts[:3]])
    r1 = run(subset, out_dir, "lineage-par-subset")
    assert r1.scanned_files == 3
    assert _scan_tasks(spark, "lineage-par-subset", r1.run_id) == 3
    assert task_log() == [1, 1, 1]
    assert _n_lineage_files(out_dir) == 1

    # resume over the full corpus: n_pending > 2*cores
    full = spark.read.parquet(media_dir)
    r2 = run(full, out_dir, "lineage-par-resume")
    n_pending = len(parts) - 3
    assert r2.scanned_files == n_pending
    n_tasks = _scan_tasks(spark, "lineage-par-resume", r2.run_id)
    assert n_tasks == min(n_pending, slots)
    per_task = task_log()
    assert len(per_task) == n_tasks
    assert sum(per_task) == n_pending
    assert _n_lineage_files(out_dir) == 2
    # a no-op resume appends nothing
    assert run(full, out_dir, "lineage-par-noop").scanned_files == 0
    assert _n_lineage_files(out_dir) == 2
    _assert_golden(spark, docs, smoke_dir, out_dir)

    # full corpus from scratch
    fresh = str(tmp_path_factory.mktemp("parallel_fresh"))
    r3 = run(full, fresh, "lineage-par-full")
    n_tasks = _scan_tasks(spark, "lineage-par-full", r3.run_id)
    assert n_tasks == min(len(parts), slots)
    per_task = task_log()
    assert len(per_task) == n_tasks
    assert sum(per_task) == len(parts)
    assert _n_lineage_files(fresh) == 1


def test_job_descriptions_label_phases_and_restore(spark, smoke_dir,
                                                    tmp_path_factory):
    """Every job of a run is labelled with its phase; the caller's job
    description is restored afterwards, also when the run raises."""
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    # a filtered plan lists its files with a job (a bare local scan
    # lists without one), so every phase that can start jobs does
    one = (spark.read.parquet(os.path.join(media_dir,
                                           sorted(os.listdir(media_dir))[0]))
           .filter(F.col("media_ref").isNotNull()))
    out_dir = str(tmp_path_factory.mktemp("labels_out"))
    with _job_group(sc, "lineage-labels", "caller label"):
        res = run_resumable_extract(spark, docs, one, out_dir,
                                    run_id="labels")
        assert sc.getLocalProperty("spark.job.description") == "caller label"
        again = run_resumable_extract(spark, docs, one, out_dir,
                                      run_id="labels-resume")
        assert sc.getLocalProperty("spark.job.description") == "caller label"
        sc.setJobDescription(None)
        with pytest.raises(ValueError, match="file-backed"):
            run_resumable_extract(
                spark, docs, spark.createDataFrame(
                    [("x", "png", b"y")],
                    "media_ref string, format string, image binary"),
                out_dir, run_id="labels-err")
        assert sc.getLocalProperty("spark.job.description") is None
    assert res.scanned_files == 1
    assert (again.scanned_files, again.skipped_files) == (0, 1)
    descs = {_spark_rest(spark, f"/jobs/{j}")["description"]
             for j in _jobs_of(spark, "lineage-labels")}
    assert descs == {"lineage labels: manifest and resume diff",
                     "lineage labels: scan",
                     "lineage labels-resume: manifest and resume diff"}


def test_run_job_count(spark, smoke_dir, tmp_path_factory, monkeypatch):
    """The control plane's fixed cost: a fresh run on a bare scan starts
    exactly one Spark job (the scan), a no-op resume at most three and
    no scan; past the driver cap the pending list is scanned and
    committed in chunks of at most the cap, one lineage file each."""
    from fin_ocr_sdk_spark.plans import pipeline
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    media = spark.read.parquet(media_dir)
    n_parts = len(os.listdir(media_dir))
    out_dir = str(tmp_path_factory.mktemp("jobs_out"))

    with _job_group(sc, "lineage-jobs-fresh", "job count test"):
        fresh = run_resumable_extract(spark, docs, media, out_dir)
    assert fresh.scanned_files == n_parts
    assert len(_jobs_of(spark, "lineage-jobs-fresh")) == 1

    with _job_group(sc, "lineage-jobs-noop", "job count test"):
        noop = run_resumable_extract(spark, docs, media, out_dir)
    assert (noop.scanned_files, noop.skipped_files) == (0, n_parts)
    assert (noop.doc_count, noop.span_count) == (fresh.doc_count,
                                                 fresh.span_count)
    jobs = _jobs_of(spark, "lineage-jobs-noop")
    assert len(jobs) <= 3
    assert not any(_spark_rest(spark, f"/jobs/{j}")["description"]
                   == f"lineage {noop.run_id}: scan" for j in jobs)

    monkeypatch.setattr(pipeline, "_MANIFEST_DRIVER_CAP", 5)
    chunked = str(tmp_path_factory.mktemp("jobs_chunked"))
    res = run_resumable_extract(spark, docs, media, chunked)
    assert (res.scanned_files, res.skipped_files) == (n_parts, 0)
    assert res.doc_count == fresh.doc_count
    assert _n_lineage_files(chunked) == -(-n_parts // 5)
    again = run_resumable_extract(spark, docs, media, chunked)
    assert (again.scanned_files, again.skipped_files) == (0, n_parts)
    assert _n_lineage_files(chunked) == -(-n_parts // 5)
    _assert_golden(spark, docs, smoke_dir, chunked)


def test_crashed_lineage_commit_is_invisible(spark, smoke_dir,
                                            tmp_path_factory):
    """A lineage directory holding only a crashed commit's hidden tmp
    file is no commit: the next run scans everything."""
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    one = spark.read.parquet(os.path.join(media_dir,
                                          sorted(os.listdir(media_dir))[0]))
    out_dir = str(tmp_path_factory.mktemp("crashed_out"))
    os.makedirs(os.path.join(out_dir, "lineage"))
    with open(os.path.join(out_dir, "lineage", ".part-x.parquet.tmp"),
              "wb") as f:
        f.write(b"PAR1 torn")
    assert committed_lineage(spark, out_dir) is None
    res = run_resumable_extract(spark, docs, one, out_dir)
    assert (res.scanned_files, res.skipped_files) == (1, 0)
    assert committed_lineage(spark, out_dir).count() == 1


def test_lineage_kernel_ships_templates_once(spark, tmp_path):
    """With a session the kernel closes over the template broadcast
    only; the template set itself (~150 KB) stays out of the pickled
    task command."""
    from pyspark import cloudpickle

    from fin_ocr_sdk_spark.plans.lineage import make_lineage_kernel
    kernel = make_lineage_kernel(str(tmp_path), "pickle", spark=spark)
    assert len(cloudpickle.dumps(kernel)) < 10_000
