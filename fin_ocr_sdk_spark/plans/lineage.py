"""Resumable extraction with per-partition lineage (north rule).

Unit of work = one media part file.  A run lists the media files once
(the listing the pipeline scan uses), subtracts the committed ones and
scans the rest in ONE Spark job of ``min(n_pending, 2 *
defaultParallelism)`` tasks.  Each scanned unit yields a lineage row

    (partition_id, media_file, doc_count, span_count, checksum,
     run_id, wall_ms)

and its emitted spans land in their own parquet file named by the
partition id.  A span file is visible ONLY through its lineage row, so
a run killed mid-flight leaves at most orphan span files that the
reader never picks up — re-running skips every committed partition and
scans only the remainder.

The scan job collects the run's lineage rows to the driver, which
commits them as ONE lineage file (tmp write + atomic rename) after
every task has renamed its span files into place: lineage-last.  (On a
real deployment both tables are Iceberg and the span+lineage append is
one atomic snapshot commit, also made by the driver; the parquet
stand-in keeps the same protocol.)  The run's totals are the committed
totals plus the collected rows, so nothing is read back.  A fresh run
on a bare local scan therefore starts exactly one Spark job; a resume
adds one action for the committed totals and paths.  Listings too
large for the driver are streamed and scanned in chunks of at most
``pipeline._MANIFEST_DRIVER_CAP`` files, one lineage file per chunk.

Every Spark job the run starts carries a phase label
(``lineage <run_id>: manifest and resume diff | scan``) as its job
description, so a run's jobs can be told apart in the UI, the
monitoring API and the status tracker.

The reference has no notion of this — it is request-scoped
(src/context.ts) — but the slow/hung-request accounting it does keep
(src/config.ts:47-49) maps to the wall_ms column here.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from .pipeline import SPAN_OUT_COLS, explode_spans

LINEAGE_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("media_file", StringType()),
    StructField("doc_count", LongType()),
    StructField("span_count", LongType()),
    StructField("checksum", StringType()),
    StructField("run_id", StringType()),
    StructField("wall_ms", LongType()),
])

EMITTED_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("sub_order", IntegerType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
])


def _partition_id(media_file: str) -> str:
    return hashlib.sha1(media_file.encode()).hexdigest()[:16]


def make_lineage_kernel(out_dir: str, run_id: str, templates=None,
                        spark: SparkSession | None = None):
    """mapInPandas kernel over (path): for each media file in the task's
    batches, scan it, write its emitted spans to
    <out>/spans/<partition_id>.parquet and yield its lineage row.  The
    span file is renamed into place BEFORE its lineage row is returned;
    the driver commits the rows once the job has finished (lineage-last
    commit protocol)."""
    if templates is None:
        from .scan import get_default_templates
        templates = get_default_templates()
    if spark is not None:
        # the kernel closes over the broadcast handle only: a closure
        # that also names ``templates`` ships the ~150 KB set in every
        # task's command next to the broadcast
        bc = spark.sparkContext.broadcast(templates)

        def get_templates():
            return bc.value
    else:
        def get_templates():
            return templates
    spans_dir = os.path.join(out_dir, "spans")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .pipeline import _pin_worker_threads
        _pin_worker_threads()
        import pyarrow as pa
        import pyarrow.parquet as papq
        from .scan import scan_check
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        tmpl = get_templates()
        os.makedirs(spans_dir, exist_ok=True)
        for pdf in batches:
            rows = {k: [] for k in ("partition_id", "media_file",
                                    "doc_count", "span_count", "checksum",
                                    "run_id", "wall_ms")}
            for path in pdf["path"]:
                t0 = time.time()
                local = path.replace("file:", "")
                out = {k: [] for k in ("media_ref", "sub_order", "kind",
                                       "text")}
                h = hashlib.sha256()
                n_docs = 0
                # stream record batches like the non-resumable scan
                # (pipeline.scan_media_files): memory stays bounded by
                # the batch, not the part-file size — a 1 GB part must
                # not become a 1 GB Arrow table per task
                pf = papq.ParquetFile(local)
                for rb in pf.iter_batches(batch_size=32,
                                          use_threads=False):
                    for ref, fmt, image in zip(
                            rb.column("media_ref").to_pylist(),
                            rb.column("format").to_pylist(),
                            rb.column("image").to_pylist()):
                        res = scan_check(image, fmt, tmpl)
                        n_docs += 1
                        if res.ok and res.check_info is not None:
                            emitted = (
                                ("micr:line", res.check_info.micr_line),
                                ("micr:routing",
                                 res.check_info.routing_number),
                                ("micr:account",
                                 res.check_info.account_number),
                                ("micr:check",
                                 res.check_info.check_number),
                            )
                        else:
                            emitted = (("micr:error", res.error),)
                        for k, (kind, text) in enumerate(emitted, start=1):
                            out["media_ref"].append(ref)
                            out["sub_order"].append(k)
                            out["kind"].append(kind)
                            out["text"].append(text)
                            h.update(
                                f"{ref}\x00{kind}\x00{text}\x01".encode())
                pid = _partition_id(local)
                span_path = os.path.join(spans_dir, f"{pid}.parquet")
                tmp_path = span_path + f".tmp-{run_id}"
                papq.write_table(pa.table(
                    {k: out[k] for k in out},
                    schema=pa.schema([
                        ("media_ref", pa.string()),
                        ("sub_order", pa.int32()),
                        ("kind", pa.string()),
                        ("text", pa.string()),
                    ])), tmp_path)
                os.replace(tmp_path, span_path)  # atomic on posix
                rows["partition_id"].append(pid)
                rows["media_file"].append(local)
                rows["doc_count"].append(n_docs)
                rows["span_count"].append(len(out["media_ref"]))
                rows["checksum"].append(h.hexdigest()[:32])
                rows["run_id"].append(run_id)
                rows["wall_ms"].append(int((time.time() - t0) * 1000))
            yield pd.DataFrame(rows)

    return kernel


@dataclass
class ExtractRunResult:
    run_id: str
    scanned_files: int
    skipped_files: int
    doc_count: int
    span_count: int


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def _has_committed_lineage(out_dir: str) -> bool:
    """True once a lineage file has been committed under ``out_dir``.
    Hidden names (a crashed commit's ``.``-prefixed tmp file, Spark's
    ``_SUCCESS``) are not commits; the parquet reader skips them too."""
    path = _lineage_dir(out_dir)
    return os.path.isdir(path) and any(
        not f.startswith((".", "_")) for f in os.listdir(path))


def committed_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed lineage table, read with its fixed schema (no
    schema-inference job), or None before the first commit."""
    if not _has_committed_lineage(out_dir):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_dir(out_dir))


def _commit_lineage(out_dir: str, name: str, rows: list) -> None:
    """Driver-side commit of one lineage file: the rows are written
    under a hidden tmp name and renamed into place, the protocol the
    kernel uses for span files (and the stand-in for an Iceberg
    snapshot commit, which the driver also makes)."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import to_arrow_schema
    path = _lineage_dir(out_dir)
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, f"part-{name}.parquet")
    tmp = os.path.join(path, f".part-{name}.parquet.tmp")
    papq.write_table(pa.Table.from_pylist(
        [r.asDict() for r in rows],
        schema=to_arrow_schema(LINEAGE_SCHEMA)), tmp)
    os.replace(tmp, final)  # atomic on posix


def _scan_and_commit(spark: SparkSession, kernel, files: list,
                     out_dir: str, name: str) -> "tuple[int, int]":
    """Scan ``files`` ((path, size) pairs) in ONE Spark job and commit
    their lineage rows as one lineage file; returns the (doc_count,
    span_count) the rows add.

    The files are striped over ``nparts = min(n, 2 *
    defaultParallelism)`` stripes in size-descending order.  The job's
    input is ``range(nparts)`` in as many partitions, one stripe index
    each, and the stripes travel as a broadcast (fetched once per
    executor, not shipped in every task), so every task scans exactly
    its stripe: one file per task while n <= 2 * cores, with no
    shuffle and no Python-side input conversion.  ``collect()`` returns
    only after every task has renamed its span files into place, so the
    lineage commit after it is last."""
    sc = spark.sparkContext
    nparts = max(1, min(len(files), sc.defaultParallelism * 2))
    by_size = sorted(files, key=lambda f: f[1], reverse=True)
    stripes = sc.broadcast([[p for p, _ in by_size[i::nparts]]
                            for i in range(nparts)])

    def scan_stripes(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        return kernel(pd.DataFrame({"path": stripes.value[i]})
                      for pdf in batches for i in pdf["id"])

    try:
        rows = (spark.range(0, nparts, 1, nparts)
                .mapInPandas(scan_stripes, LINEAGE_SCHEMA).collect())
    finally:
        stripes.destroy()
    _commit_lineage(out_dir, name, rows)
    return (sum(r["doc_count"] for r in rows),
            sum(r["span_count"] for r in rows))


@contextmanager
def _job_phases(spark: SparkSession, run_id: str):
    """Yields ``label(phase)``, which sets the job description of every
    Spark job started after it to ``lineage <run_id>: <phase>``.  The
    caller's description (or its absence) is restored on exit, also on
    exceptions; job groups are left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")

    def label(phase: str) -> None:
        sc.setJobDescription(f"lineage {run_id}: {phase}")

    try:
        yield label
    finally:
        sc.setJobDescription(prev)


def _stream_pending(manifest: DataFrame, lineage: DataFrame | None,
                    cap: int):
    """Yields (chunk, n_committed) pairs over a manifest too large for
    the driver: the pending files streamed with ``toLocalIterator()``
    in chunks of at most ``cap`` (path, size) pairs, each with the
    number of already-committed files passed over since the previous
    chunk.  The last chunk may be empty."""
    if lineage is None:
        manifest = manifest.withColumn("done", F.lit(False))
    else:
        manifest = manifest.join(
            lineage.select(F.col("media_file").alias("path"),
                           F.lit(True).alias("done")).distinct(),
            "path", "left")
    chunk: list = []
    committed = 0
    for row in manifest.toLocalIterator():
        if row["done"]:
            committed += 1
            continue
        chunk.append((row["path"], row["size"]))
        if len(chunk) == cap:
            yield chunk, committed
            chunk, committed = [], 0
    yield chunk, committed


def run_resumable_extract(spark: SparkSession, documents: DataFrame,
                          media: DataFrame, out_dir: str,
                          run_id: str | None = None) -> ExtractRunResult:
    """Scan every media file not yet committed to the lineage table;
    idempotent and restart-safe.  Returns run stats."""
    from . import pipeline
    run_id = run_id or uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    with _job_phases(spark, run_id) as label:
        label("manifest and resume diff")
        # the listing the pipeline scan uses: zero jobs for a bare local
        # scan, one bounded collect otherwise (on Iceberg, the
        # snapshot's file list)
        files, manifest = pipeline.list_media_files(media)
        if files is None and manifest is None:
            raise ValueError("resumable extract requires file-backed media")
        lineage = committed_lineage(spark, out_dir)
        docs = spans = 0
        if manifest is None:
            committed = 0
            if lineage is not None:
                # ONE action: the lineage rows of listed files come back
                # (bounded by the listing, never the whole table) while
                # observed metrics sum the committed totals in passing
                totals = Observation()
                listed = spark.createDataFrame(
                    pd.DataFrame({"media_file": [p for p, _ in files]},
                                 dtype=object), "media_file string")
                done = {r["media_file"] for r in (
                    lineage.observe(totals,
                                    F.sum("doc_count").alias("docs"),
                                    F.sum("span_count").alias("spans"))
                    .join(F.broadcast(listed), "media_file", "semi")
                    .select("media_file").collect())}
                docs, spans = totals.get["docs"], totals.get["spans"]
                committed = len(done)
                files = [f for f in files if f[0] not in done]
            chunks = [(files, committed)]
        else:
            # too many files to hold on the driver: scan and commit the
            # streamed pending list chunk by chunk
            if lineage is not None:
                docs, spans = lineage.agg(F.sum("doc_count"),
                                          F.sum("span_count")).first()
            chunks = _stream_pending(manifest, lineage,
                                     pipeline._MANIFEST_DRIVER_CAP)
        docs, spans = int(docs or 0), int(spans or 0)
        kernel = None
        scanned = skipped = 0
        for i, (chunk, committed) in enumerate(chunks):
            skipped += committed
            if not chunk:
                continue
            label("scan")
            kernel = kernel or make_lineage_kernel(out_dir, run_id,
                                                   spark=spark)
            d, s = _scan_and_commit(spark, kernel, chunk, out_dir,
                                    f"{run_id}-{i:05d}")
            docs, spans, scanned = docs + d, spans + s, scanned + len(chunk)
            label("manifest and resume diff")
    return ExtractRunResult(run_id=run_id, scanned_files=scanned,
                            skipped_files=skipped, doc_count=docs,
                            span_count=spans)


def emitted_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed emitted spans: ONLY span files with lineage rows
    are read (orphans from failed runs stay invisible).

    Commit membership is enforced with a distributed semi-join on the
    partition id recovered from each span file's name — no driver-side
    collect of the lineage table (millions of rows at 10^12-doc scale).
    Uncommitted ``<pid>.parquet`` orphans may be *opened* by the scan
    but every row they contribute is dropped by the semi-join.  A
    semi-join emits each span row at most once, so the lineage side
    needs no ``distinct``."""
    lineage = committed_lineage(spark, out_dir)
    if lineage is None:
        raise FileNotFoundError(f"no committed lineage under {out_dir}")
    spans_dir = os.path.join(out_dir, "spans")
    # ignoreCorruptFiles: committed files are complete by construction
    # (tmp-write + atomic rename, lineage-last); the only partial or
    # foreign *.parquet here is an uncommitted orphan, which must not
    # fail the read — the semi-join drops its rows anyway, and the
    # lineage checksum column audits committed-file integrity
    all_spans = (spark.read.schema(EMITTED_SCHEMA)
                 .option("pathGlobFilter", "*.parquet")  # skip .tmp-*
                 .option("ignoreCorruptFiles", "true")
                 .parquet(spans_dir)
                 .withColumn("partition_id",
                             F.regexp_extract(F.input_file_name(),
                                              r"([0-9a-f]+)\.parquet$", 1)))
    return (all_spans
            .join(lineage.select("partition_id"), "partition_id", "semi")
            .drop("partition_id"))


def assemble_output(documents: DataFrame, emitted: DataFrame) -> DataFrame:
    """Final interleaved span table from originals + committed emitted
    spans (same renumber as pipeline.extract_spans)."""
    spans = explode_spans(documents)
    image_spans = (spans.filter(F.col("kind") == "image")
                   .select("doc_id", "media_ref", "offset"))
    joined = (image_spans.join(emitted, "media_ref")
              .select("doc_id", "kind", "text", "media_ref", "offset",
                      "sub_order"))
    originals = spans.withColumn("sub_order", F.lit(0))
    unioned = originals.unionByName(joined)
    w = Window.partitionBy("doc_id").orderBy("offset", "sub_order")
    return (unioned
            .withColumn("order", (F.row_number().over(w) - F.lit(1))
                        .cast("int"))
            .select(*SPAN_OUT_COLS))
