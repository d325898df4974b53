"""Benchmark of the MICR extraction engine and its training queries.

    python3 perfbench/run.py --workload lossless --seed 1 --seconds 8 \\
        --trace 0

Run from the root of a source tree.  One run builds the workload's
inputs from the seed (the training tables are fixed, and the seed
permutes the query order), runs the workload in a fresh process and JVM on
``local[<cores>]`` (perfbench/child.py), checks every timed pass's
output against the generator's golden spans or the DuckDB oracles, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and the run's spans are
written to ``.perfbench/traces/``.  The line before the result carries
host context (steal %, load average) that explains a noisy run.  The
exit code is 0 only when every output matched.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from layers import DECODE_KINDS
from oracle import TRAINING_QUERIES
from procs import become_subreaper, stop_descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: cores the run may use; Spark runs on local[CORES]
CORES = len(os.sched_getaffinity(0))

WORKLOADS = ("lossless", "lossy_resume", "filtered", "training_queries")

#: wall-time budget of one run, below the 180 s a run may take
RUN_BUDGET_S = 170

END_TO_END = {"docs_per_s": "docs/s", "sweep_s": "s", "setup_s": "s",
              "worker_peak_rss_mb": "MB"}

PER_LAYER = {
    **{f"sources.decode_ms.{k}": "ms" for k in DECODE_KINDS},
    **{f"sources.decode_n.{k}": "count" for k in DECODE_KINDS},
    "sources.decode_share": "fraction",
    **{f"scan.{k}_ms": "ms" for k in (
        "skew", "rotate_clean", "line_find", "classify", "parse")},
    "scan.scan_check_ms.p50": "ms",
    "scan.scan_check_ms.p90": "ms",
    "scan.sample_n": "count",
    **{f"scan.{k}_frac": "fraction" for k in (
        "error", "overlap", "dark_bg", "skewed")},
    "pipeline.jobs": "count",
    "pipeline.pre_scan_s": "s",
    "pipeline.scan_tasks": "count",
    "pipeline.scan_task_s.p50": "s",
    "pipeline.scan_task_s.max": "s",
    "pipeline.scan_run_s": "s",
    "pipeline.post_scan_s": "s",
    "pipeline.shuffle_mb": "MB",
    "pipeline.gc_s": "s",
    "pipeline.core_busy_frac": "fraction",
    "pipeline.parallel_efficiency": "fraction",
    "pipeline.session_s": "s",
    "pipeline.warmup_s": "s",
    "lineage.extract_s": "s",
    "lineage.assemble_s": "s",
    "lineage.scan_tasks": "count",
    "lineage.units": "count",
    "lineage.noop_resume_s": "s",
    **{f"entry.{q}_s": "s" for q in TRAINING_QUERIES},
    "entry.jobs": "count",
    "entry.shuffle_mb": "MB",
    "check.span_mismatch_frac": "fraction",
    "check.result_mismatch_frac": "fraction",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead_frac": "fraction",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -------------------------------------------------------------- inputs

def prepare(workload: str, seed: int, work: str, budget_s: float) -> dict:
    """Write the workload's inputs under ``work`` (training-query oracles
    go to a cache beside it); returns the child's config entries."""
    import inputs
    cfg: dict = {}
    if workload == "training_queries":
        import oracle
        import pyarrow.parquet as pq
        sf_dir = inputs.TRAINING_DIR
        cfg.update(sf_dir=sf_dir,
                   oracle_dir=oracle.oracle_dir(sf_dir,
                                                os.path.dirname(work)),
                   docs=pq.ParquetFile(os.path.join(
                       sf_dir, "documents.parquet")).metadata.num_rows)
    else:
        spec = inputs.CORPUS[workload]
        cfg["input_dir"] = os.path.join(work, "corpus")
        write_corpus(cfg["input_dir"], spec["docs"], seed, spec["lossy"],
                     work, budget_s)
        keep = inputs.keep_id if workload == "filtered" else None
        cfg["docs"] = sum(keep is None or keep(str(i))
                          for i in range(spec["docs"]))
        cfg["input_shares"] = inputs.input_shares(spec["docs"], seed,
                                                  spec["lossy"], keep)
    return cfg


def sample_corpus(workload: str, seed: int, cfg: dict, work: str,
                  budget_s: float) -> str:
    """Media directory the traced image pass samples from: the corpus
    itself, or, when it holds fewer images than the sample needs, a
    larger corpus of the same kind and seed (its first documents are
    the workload's own)."""
    import inputs
    from layers import SAMPLE
    spec = inputs.CORPUS[workload]
    if cfg["docs"] >= SAMPLE:
        return os.path.join(cfg["input_dir"], "media.parquet")
    out = os.path.join(work, "sample")
    write_corpus(out, SAMPLE, seed, spec["lossy"], work, budget_s)
    return os.path.join(out, "media.parquet")


# --------------------------------------------------------------- child

def child_env(tmp: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH", "")) if p)
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    # keep Spark's, the JVM's and Python's scratch files in the tree
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS", ""),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    return env


def run_process(argv: list[str], work: str, log_name: str,
                budget_s: float) -> int | None:
    """Run ``argv`` with its output in ``work/log_name``; then stop and
    reap every process it left behind.  Returns its exit code, or None
    when it outran ``budget_s`` and was killed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(work, log_name), "w") as log:
        proc = subprocess.Popen(argv, cwd=ROOT,
                                env=child_env(tmp),
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(5.0, budget_s))
        except subprocess.TimeoutExpired:
            code = None
        # the JVM, the PySpark daemon and its workers end once the
        # process that started them has; a killed run gets no grace
        stop_descendants(grace_s=10.0 if code is not None else 0.0)
    return code


def write_corpus(out_dir: str, n_docs: int, seed: int, lossy: bool,
                 work: str, budget_s: float) -> None:
    """inputs.write_corpus in a process of its own, so that its worker
    pool and multiprocessing's resource tracker end with it."""
    code = run_process([sys.executable, os.path.join(HERE, "inputs.py"),
                        out_dir, str(n_docs), str(seed), str(int(lossy)),
                        str(CORES)], work, "inputs.log", budget_s)
    if code != 0:
        with open(os.path.join(work, "inputs.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"input generation exited {code}\n{tail}")


def run_child(cfg: dict, work: str, budget_s: float) -> dict:
    cfg_path = os.path.join(work, "child.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    code = run_process([sys.executable, os.path.join(HERE, "child.py"),
                        cfg_path], work, "child.log", budget_s)
    try:
        with open(cfg["result"]) as f:
            return json.load(f)
    except (OSError, ValueError):
        with open(os.path.join(work, "child.log")) as f:
            tail = f.read()[-4000:]
        return {"error": f"child exited {code} without a "
                         f"result (timeout {budget_s:.0f} s)\n{tail}",
                "attempted": 1, "failed": 1, "passes": []}


# ------------------------------------------------------------- metrics

def end_to_end(res: dict) -> dict:
    pass_s = _median([p["s"] for p in res["passes"] if not p["traced"]])
    return {
        "docs_per_s": res["docs_per_pass"] / pass_s,
        "sweep_s": pass_s,
        "setup_s": res["setup_s"],
        "worker_peak_rss_mb": max(res["worker_rss_mb"]),
    }


def per_layer(workload: str, res: dict, image: dict, cores: int) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced_s = _median([p["s"] for p in traced])
    untraced_s = _median([p["s"] for p in untraced])
    n = res["docs_per_pass"]
    m.update({
        "trace.docs_per_s": n / traced_s,
        "trace.untraced_docs_per_s": n / untraced_s,
        "trace.overhead_frac": traced_s / untraced_s - 1.0,
        "pipeline.session_s": res["session_s"],
        "pipeline.warmup_s": res["warmup_s"],
    })
    mismatch = res["failed"] / max(1, res["attempted"])
    if workload == "training_queries":
        m["check.result_mismatch_frac"] = mismatch
        for q in TRAINING_QUERIES:
            m[f"entry.{q}_s"] = _median([p["query_s"][q]
                                         for p in res["passes"]])
        m["entry.jobs"] = _median([sum(g["jobs"] for g in p["profile"])
                                   for p in traced])
        m["entry.shuffle_mb"] = _median(
            [sum(g["shuffle_mb"] for g in p["profile"]) for p in traced])
        return m
    m["check.span_mismatch_frac"] = mismatch
    m.update({k: v for k, v in image.items() if k in m})
    for key in ("jobs", "pre_scan_s", "scan_tasks", "scan_task_s.p50",
                "scan_task_s.max", "scan_run_s", "post_scan_s",
                "shuffle_mb", "gc_s", "core_busy_frac"):
        m[f"pipeline.{key}"] = _median([p["profile"][0].get(key, 0.0)
                                        for p in traced])
    m["pipeline.parallel_efficiency"] = (
        image["mean_scan_check_s"] * n / (cores * traced_s))
    if workload == "lossy_resume":
        m.update({
            "lineage.extract_s": _median([p["extract_s"] for p in traced]),
            "lineage.assemble_s": _median([p["assemble_s"] for p in traced]),
            "lineage.scan_tasks": m["pipeline.scan_tasks"],
            "lineage.units": res["lineage_units"],
            "lineage.noop_resume_s": res["noop_resume_s"],
        })
    return m


# ---------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    for need in ("__spark_entry__.py", "fin_ocr_sdk_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from "
                  "the root of a source tree", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    become_subreaper()

    cores = CORES
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        cfg = prepare(args.workload, args.seed, work, RUN_BUDGET_S)
        cfg.update(workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace, cores=cores,
                   work_dir=work, result=os.path.join(work, "result.json"),
                   spans=os.path.join(work, "spans.jsonl"))
        gen_s = time.time() - t_start
        # a traced run also times the image sample on one core afterwards
        budget = RUN_BUDGET_S - gen_s - (40 if args.trace else 0)
        res = run_child(cfg, work, budget)
        ok = res.get("error") is None and res["failed"] == 0
        if res.get("error"):
            print(res["error"], file=sys.stderr)
        metrics: dict = {}
        if ok:
            if args.trace:
                from inputs import keep_id
                from layers import image_pass, sample_images
                from spans import Tracer
                image: dict = {"mean_scan_check_s": 0.0}
                tracer = Tracer(True, prefix="image-")
                if args.workload != "training_queries":
                    image = image_pass(sample_images(
                        sample_corpus(args.workload, args.seed, cfg, work,
                                      RUN_BUDGET_S - (time.time() - t_start)),
                        args.seed,
                        keep_id if args.workload == "filtered" else None),
                        tracer)
                tracer.write(cfg["spans"])
                values = per_layer(args.workload, res, image, cores)
                units = PER_LAYER
                traces = os.path.join(state, "traces")
                os.makedirs(traces, exist_ok=True)
                shutil.copy(cfg["spans"], os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.jsonl"))
            else:
                values, units = end_to_end(res), END_TO_END
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in values.items()}
        print(json.dumps({"context": {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "input_s": gen_s, "inputs": cfg.get("input_shares"),
            "mismatched": res.get("mismatched", [])[:20],
            "host": res.get("host"), "worker_rss_mb": res.get("worker_rss_mb"),
            "setup_s": res.get("setup_s"), "session_s": res.get("session_s"),
            "warmup_s": res.get("warmup_s"),
            "pass_s": [p["s"] for p in res.get("passes", [])],
            "wall_s": time.time() - t_start}}))
        print(json.dumps({"correct": ok, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0 if ok else 1
    finally:
        stop_descendants(grace_s=0.0)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
