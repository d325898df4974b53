"""Spark side of one benchmark run, in a fresh process and JVM.

    python3 perfbench/child.py <config.json>

Sets the session up once, from process start, then runs the workload's
timed action in passes until their summed wall time reaches the run
length, checking every pass's materialized output.  The result is
written as JSON to the config's ``result`` path.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

from procs import descendants  # noqa: E402
from spans import SparkRest, Tracer  # noqa: E402


# ------------------------------------------------------------ checking

def _signatures(rows) -> dict:
    """doc_id -> ((kind, text, media_ref, order), ...) in output order."""
    ordered = sorted(rows, key=lambda r: (r[0], r[4]))
    return {doc: tuple(r[1:] for r in grp)
            for doc, grp in itertools.groupby(ordered, key=lambda r: r[0])}


def _rows(df) -> list[tuple]:
    return list(zip(df["doc_id"].tolist(), df["kind"].tolist(),
                    df["text"].tolist(), df["media_ref"].tolist(),
                    [int(o) for o in df["order"].tolist()]))


def doc_mismatches(out, want: dict) -> list[str]:
    """Docs whose (kind, text, media_ref, order) sequence differs from
    the golden, including docs missing from either side."""
    got = _signatures(_rows(out))
    return sorted({d for d, sig in want.items() if got.get(d) != sig}
                  | (got.keys() - want.keys()))


# ----------------------------------------------------------- workloads

class Extraction:
    """``extract_spans`` over the corpus; ``filtered`` applies one id
    predicate to both the documents and the media table."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.dir = cfg["input_dir"]
        self.filtered = cfg["workload"] == "filtered"
        self.docs_per_pass = cfg["docs"]

    def load_golden(self) -> None:
        import pandas as pd
        from inputs import keep_id
        exp = pd.read_parquet(os.path.join(self.dir, "expected.parquet"))
        if self.filtered:
            exp = exp[exp["doc_id"].map(keep_id)]
        self.want = _signatures(_rows(exp))

    def _read(self, spark, media_dir: str):
        from pyspark.sql import functions as F
        from inputs import FILTER_DIGITS
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        media = spark.read.parquet(media_dir)
        if self.filtered:
            docs = docs.filter(
                F.substring("doc_id", -1, 1).isin(*FILTER_DIGITS))
            media = media.filter(
                F.substring("media_ref", -1, 1).isin(*FILTER_DIGITS))
        return docs, media

    def register(self, spark) -> None:
        self.spark = spark
        self.docs, self.media = self._read(
            spark, os.path.join(self.dir, "media.parquet"))

    def warm(self) -> None:
        # the JVM keeps getting faster over the first passes: with one
        # warm-up pass the first timed pass is the slowest by ~15%
        for _ in range(2):
            self.run_pass("", Tracer(False))

    def run_pass(self, tag: str, tracer: Tracer) -> dict:
        from fin_ocr_sdk_spark.plans.pipeline import extract_spans
        with tracer.span("pipeline.extract_spans"):
            out = extract_spans(self.docs, self.media)
        with tracer.span("pipeline.action"):
            pdf = out.toPandas()
        return {"out": pdf}

    def check(self, res: dict) -> tuple[int, list[str]]:
        """(documents attempted, ids of documents that differ)"""
        return self.docs_per_pass, doc_mismatches(res["out"], self.want)


class LossyResume(Extraction):
    """``run_resumable_extract`` into an empty directory, then
    ``emitted_spans`` + ``assemble_output``."""

    def register(self, spark) -> None:
        super().register(spark)
        self.n_files = len(os.listdir(os.path.join(self.dir,
                                                   "media.parquet")))
        self.runs = itertools.count()

    def run_pass(self, tag: str, tracer: Tracer) -> dict:
        from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                                     emitted_spans,
                                                     run_resumable_extract)
        out_dir = os.path.join(self.cfg["work_dir"],
                               f"lineage-{next(self.runs)}")
        t0 = time.perf_counter()
        with tracer.span("lineage.run_resumable_extract"):
            res = run_resumable_extract(self.spark, self.docs, self.media,
                                        out_dir)
        t1 = time.perf_counter()
        with tracer.span("lineage.emitted_spans+assemble_output"):
            pdf = assemble_output(self.docs,
                                  emitted_spans(self.spark, out_dir)
                                  ).toPandas()
        return {"out": pdf, "result": res, "out_dir": out_dir,
                "extract_s": t1 - t0,
                "assemble_s": time.perf_counter() - t1}

    def warm(self) -> None:
        shutil.rmtree(self.run_pass("", Tracer(False))["out_dir"])

    def check(self, res: dict) -> tuple[int, list[str]]:
        attempted, failed = super().check(res)
        r = res["result"]
        if r.doc_count != self.docs_per_pass or \
                r.scanned_files != self.n_files:
            failed = sorted(self.want)
        return attempted, failed

    def noop_resume(self, res: dict) -> tuple[float, bool]:
        """Second call on a committed directory: must scan nothing."""
        from fin_ocr_sdk_spark.plans.lineage import run_resumable_extract
        t0 = time.perf_counter()
        again = run_resumable_extract(self.spark, self.docs, self.media,
                                      res["out_dir"])
        return time.perf_counter() - t0, (
            again.scanned_files == 0
            and again.doc_count == self.docs_per_pass)


class TrainingQueries:
    """Every training query to a materialized result, in an order
    permuted by the seed."""

    def __init__(self, cfg: dict):
        import random

        from oracle import TRAINING_QUERIES
        self.cfg = cfg
        self.order = list(TRAINING_QUERIES)
        random.Random(cfg["seed"]).shuffle(self.order)
        self.docs_per_pass = cfg["docs"]

    def load_golden(self) -> None:
        import pandas as pd
        self.want = {q: pd.read_pickle(os.path.join(self.cfg["oracle_dir"],
                                                    f"{q}.pkl"))
                     for q in self.order}

    def register(self, spark) -> None:
        import __spark_entry__ as entrymod
        self.spark = spark
        self.queries = entrymod.queries()

    def run_pass(self, tag: str, tracer: Tracer) -> dict:
        results, query_s = {}, {}
        for name in self.order:
            if tag:
                self.spark.sparkContext.setJobGroup(f"{tag}.{name}", name)
            t0 = time.perf_counter()
            with tracer.span(f"entry.{name}"):
                results[name] = self.queries[name](
                    self.spark, self.cfg["sf_dir"]).toPandas()
            query_s[name] = time.perf_counter() - t0
        return {"out": results, "query_s": query_s}

    def warm(self) -> None:
        self.run_pass("", Tracer(False))

    def check(self, res: dict) -> tuple[int, list[str]]:
        """(queries run, names of queries whose result differs)"""
        from oracle import matches
        return len(self.order), [q for q in self.order
                                 if not matches(res["out"][q], self.want[q])]


WORKLOADS = {"lossless": Extraction, "filtered": Extraction,
             "lossy_resume": LossyResume,
             "training_queries": TrainingQueries}


# ---------------------------------------------------------------- host

def worker_rss_mb() -> list[float]:
    """VmHWM of each of this process's Spark Python worker processes."""
    peaks = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
            # python -m pyspark.daemon and the workers it forks; the
            # JVM's own command line also mentions pyspark
            if b"pyspark.daemon" not in args and \
                    b"pyspark.worker" not in args:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peaks


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- main

def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer(bool(cfg["trace"]), prefix="spark-")
    result: dict = {"passes": [], "attempted": 0, "failed": 0,
                    "mismatched": [], "error": None,
                    "docs_per_pass": cfg["docs"]}
    cores = cfg["cores"]
    spark = None
    wl = None
    try:
        from fin_ocr_sdk_spark.session import get_spark
        wl = WORKLOADS[cfg["workload"]](cfg)
        # set-up runs from process start: session up, inputs
        # registered, warm-up done
        with tracer.span("setup"):
            with tracer.span("pipeline.session"):
                spark = get_spark(f"perfbench-{cfg['workload']}",
                                  master=f"local[{cores}]")
                spark.sparkContext.setLogLevel("ERROR")
            t1 = time.time()
            with tracer.span("register"):
                wl.register(spark)
            t2 = time.time()
            with tracer.span("pipeline.warmup"):
                wl.warm()
            t3 = time.time()
        result.update(setup_s=t3 - cfg["t_spawn"],
                      session_s=t1 - cfg["t_spawn"], warmup_s=t3 - t2)
        wl.load_golden()

        rest = SparkRest(spark) if cfg["trace"] else None
        steal0, total0 = cpu_times()
        spent = 0.0
        last = None
        for i in itertools.count():
            # in a traced run, odd passes record spans and Spark-side
            # numbers; even passes are untraced, for the overhead ratio
            traced = bool(cfg["trace"]) and i % 2 == 1
            tag = f"p{i}" if cfg["trace"] else ""
            pass_tracer = tracer if traced else Tracer(False)
            if tag:
                spark.sparkContext.setJobGroup(tag, tag)
            with pass_tracer.span("pass", tag) as rec:
                t0 = time.time()
                res = wl.run_pass(tag, pass_tracer)
                t1 = time.time()
            attempted, failed = wl.check(res)
            result["attempted"] += attempted
            result["failed"] += len(failed)
            result["mismatched"] = sorted(set(result["mismatched"])
                                          | set(failed))
            rec_out = {"s": t1 - t0, "traced": traced}
            for key in ("query_s", "extract_s", "assemble_s"):
                if key in res:
                    rec_out[key] = res[key]
            if traced and rest is not None:
                groups = ([f"{tag}.{q}" for q in res["query_s"]]
                          if "query_s" in res else [tag])
                rec_out["profile"] = [
                    rest.action_profile(g, t0, t1, tracer, rec["id"], cores)
                    for g in groups]
            result["passes"].append(rec_out)
            if last is not None and "out_dir" in last:
                shutil.rmtree(last["out_dir"])
            last = res
            spent += t1 - t0
            if spent >= cfg["seconds"] and (
                    not cfg["trace"] or i >= 1):
                break
        steal1, total1 = cpu_times()
        result["worker_rss_mb"] = worker_rss_mb()
        result["host"] = {
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "load1": loadavg()}
        if isinstance(wl, LossyResume):
            noop_s, ok = wl.noop_resume(last)
            result["noop_resume_s"] = noop_s
            result["lineage_units"] = last["result"].scanned_files
            if not ok:
                result["failed"] += wl.docs_per_pass
                result["mismatched"].append("no-op resume")
            shutil.rmtree(last["out_dir"])
    except Exception:  # noqa: BLE001 — a raised run fails every doc
        result["error"] = traceback.format_exc()
        result["attempted"] += cfg["docs"]
        result["failed"] = result["attempted"]
    finally:
        if spark is not None:
            spark.stop()
        if cfg["trace"]:
            tracer.write(cfg["spans"])
        with open(cfg["result"], "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
