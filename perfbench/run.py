"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it carries
the workload's own named figures.  A full report, with the spans of a
traced run, is written to ``.perfbench/out/``.  Workloads and metrics
are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procinfo  # noqa: E402
from perfbench.procinfo import log  # noqa: E402
from perfbench.spans import COUNTERS, self_times  # noqa: E402

WORKLOADS = ("point_search", "knn_batch", "rag_ingest", "stream_serve")

#: hard stop: a run that hangs is killed well inside the 180 s limit
WATCHDOG_S = 170

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
}

#: spans recorded around calls into the engine, one per layer boundary
SPANS = (
    "ingest.prepare_vectors",
    "ingest.write_collection",
    "ingest.upsert_collection",
    "ingest.chunk_documents",
    "functions.embed",
    "dedup.near_dup_pairs",
    "search.collection_topk",
    "search.knn_join",
    "rag.answer",
    "streaming.batch",
)

#: scheduler counters reported per span (``input_records`` is used only
#: to derive rows scanned)
SPAN_COUNTERS = tuple(c for c in COUNTERS if c != "input_records")

#: per-layer figures each workload derives where defined (0 elsewhere)
DERIVED = {
    "search.rows_scanned_per_hit": "ratio",
    "search.pairs_scored_per_s": "1/s",
    "search.knn_join.driver_s": "s",
    "ingest.vectors_per_s": "1/s",
    "ingest.rows_rewritten_per_row_upserted": "ratio",
    "ingest.shards_touched_per_upsert": "count",
    "ingest.bytes_written_per_user_byte": "ratio",
    "functions.embed_chunks_per_s": "1/s",
    "dedup.planted_recall": "ratio",
    "rag.context_hit_ratio": "ratio",
    "streaming.queries_per_batch": "count",
    "streaming.wait_ms": "ms",
    "loadgen.late_ms": "ms",
}


def _counter_unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    return "count"


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    spec = {"session.get_spark_s": "s"}
    for name in SPANS:
        spec[f"{name}_s"] = "s"
        for c in SPAN_COUNTERS:
            spec[f"{name}.{c}"] = _counter_unit(c)
    spec.update(DERIVED)
    spec["trace.op_p50_ms"] = "ms"
    spec["trace.span_coverage"] = "ratio"
    spec["memory.peak_pss_mb"] = "MiB"
    return spec


def layer_metrics(tracer, derived: dict, op_ms: list, peak_mb: float) -> dict[str, float]:
    """Per-layer values from the spans: busy seconds and counters per
    call of each span name, the workload's derived figures, and how much
    of the measured operations' time the layer spans account for."""
    out: dict[str, float] = {}
    for name in ("session.get_spark", *SPANS):
        spans = tracer.by_name(name)
        calls = max(len(spans), 1)
        out[f"{name}_s"] = sum(s["end"] - s["start"] for s in spans) / calls
        if name == "session.get_spark":
            continue
        for c in SPAN_COUNTERS:
            out[f"{name}.{c}"] = sum(s["counters"][c] for s in spans) / calls
    for key in DERIVED:
        out[key] = float(derived.get(key, 0.0))
    out["trace.op_p50_ms"] = statistics.median(op_ms) if op_ms else 0.0
    # share of the operations' time spent inside layer spans: an op
    # root's self time is time no layer span covers
    selfs = self_times(tracer.spans)
    roots = [s for s in tracer.spans if s["name"].startswith("op.")]
    total = sum(s["end"] - s["start"] for s in roots)
    uncovered = sum(selfs[s["id"]] for s in roots)
    out["trace.span_coverage"] = 1.0 - uncovered / total if total else 1.0
    out["memory.peak_pss_mb"] = peak_mb
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own smoke tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    pinned = procinfo.pin_environment(scratch)
    # Python workers import the engine by name, like this process
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return run(args, scratch, out_dir, pinned)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, scratch: str, out_dir: str, pinned: dict) -> int:
    try:
        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark

        from perfbench.spans import Tracer
        from perfbench.workloads import Context
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    module = __import__(f"perfbench.workloads.{args.workload}", fromlist=["run"])

    facts_before = procinfo.host_facts()
    watchdog = threading.Timer(WATCHDOG_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    spark = None
    try:
        with procinfo.PeakMemory() as mem:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            get_spark_s = time.perf_counter() - t0
            spark.conf.set(
                "spark.sql.streaming.checkpointLocation", os.path.join(scratch, "checkpoints")
            )
            tracer = Tracer(bool(args.trace), spark.sparkContext)
            tracer.add("session.get_spark", t0 - tracer.t0, t0 - tracer.t0 + get_spark_s)
            ctx = Context(
                spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                scale=args.scale, work=os.path.join(scratch, "data"),
                n_cpu=procinfo.cpu_count(),
            )
            os.makedirs(ctx.work)
            res = module.run(ctx)
            procinfo.stop_spark(spark)
            spark = None
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            procinfo.stop_spark(spark)
        procinfo.wait_children()
        watchdog.cancel()

    if args.trace:
        metrics = layer_metrics(tracer, res.layer, res.op_ms, mem.peak_mb)
        units = per_layer_spec()
    else:
        metrics = {
            "setup_s": get_spark_s + res.setup_median(),
            "op_p50_ms": statistics.median(res.op_ms),
            "items_per_s": res.items / res.busy_s,
        }
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **res.detail,
        "failed_op_ratio": res.failed / max(res.attempted, 1),
        "setup_reps_s": res.setup_reps_s,
        "session.get_spark_s": get_spark_s,
        "peak_pss_mb": mem.peak_mb,
    }
    report = {
        "detail": detail,
        "metrics": metrics,
        "op_ms": res.op_ms,
        "environment": {"pinned": pinned, "before": facts_before, "after": procinfo.host_facts()},
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    tracer.write(os.path.join(out_dir, name), report)
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result), flush=True)
    return 0


def _abort() -> None:
    log(f"perfbench: run exceeded {WATCHDOG_S} s; stopping")
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
