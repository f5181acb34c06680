"""Benchmark of the review pipeline and the curation queries.

    python3 perfbench/run.py --workload trickle|curation \\
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. Starts one ``local[nproc]`` session,
generates the workload's inputs from the seed, sets up (timed), measures
for ``--seconds``, checks the outputs, stops the JVM and prints a
report line followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (and writes every span to
``.perfbench_out/``). Generated data and Spark scratch live in
``.perfbench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "az_datapipeline_sentiment_analysis_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("trickle", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs (for the benchmark's own tests)")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Point Python workers at the repo and every scratch file at
    ``work``. Must run before the JVM starts: it inherits this env."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)


def _start_session(work: str):
    from az_datapipeline_sentiment_analysis_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_jvm(spark) -> float:
    """Stop the session and the JVM, wait for it; its peak RSS in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    # ru_maxrss of reaped children: the JVM is the largest of them
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


def _p90(times: list[float]) -> float:
    if len(times) < 2:
        return times[0] if times else 0.0
    return statistics.quantiles(times, n=10, method="inclusive")[-1]


def end_to_end(run, setup_s) -> tuple[dict, dict]:
    """An operation is one trickle increment or one full pass over the
    curation queries. ``suite_s`` sums the median time of each operation
    kind in ``run.suite``; docs/s is one such pass's documents over that
    time, so one slow operation moves neither."""
    plain = [o for o in run.ops if o["ok"] and not o["traced"]]
    passes: dict[int, list[float]] = {}
    for i, o in enumerate(plain):
        passes.setdefault(o.get("pass_", i), []).append(o["s"])
    times = [sum(p) for p in passes.values() if len(p) == len(run.suite)]
    by_kind: dict[str, list[dict]] = {}
    for o in plain:
        by_kind.setdefault(o.get("query", run.suite[0]), []).append(o)
    kinds = [by_kind[k] for k in run.suite if k in by_kind]
    suite = sum(statistics.median(o["s"] for o in os_) for os_ in kinds)
    docs = sum(statistics.median(o["docs"] for o in os_) for os_ in kinds)
    metrics = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (docs / suite if suite else 0.0, "docs/s"),
        "increment_p50_s": (statistics.median(times) if times else 0.0, "s"),
        # a run holds too few operations for any percentile with ten
        # beyond it, so the tail is the run's interpolated 90th
        # percentile: steadier than its slowest operation, and the same
        # percentile however many operations a run fits
        "increment_tail_s": (_p90(times), "s"),
        "suite_s": (suite, "s"),
        "jvm_live_heap_mb": (run.heap_mb, "MB"),
    }
    detail = {
        "operations": len(run.ops),
        "op_s": [round(o["s"], 4) for o in run.ops],
        "tail_percentile": 90 if times else None,
        "tail_samples": len(times),
    }
    return metrics, detail


def per_layer(run, overhead, names) -> dict:
    """Median of each layer reading over the traced operations; for
    curation the spark.* and trace.* readings are summed over the query
    list."""
    layers = run.layers
    if layers and "query" in layers[0]:
        per_q: dict[str, list[dict]] = {}
        for layer in layers:
            per_q.setdefault(layer["query"], []).append(layer)
        merged: dict[str, float] = {}
        for q, ls in per_q.items():
            for k in ls[0]:
                if k == "query":
                    continue
                v = statistics.median(x[k] for x in ls)
                summed = k.startswith(("spark.", "trace."))
                merged[k] = merged.get(k, 0) + v if summed else v
        layers = [merged]
    out = {}
    for k in names:
        vals = [x[k] for x in layers if k in x]
        out[k] = statistics.median(vals) if vals else 0
    out.update(overhead)
    return out


def tracing_overhead(run) -> dict:
    """Traced minus untraced median operation time (per query kind for
    curation, summed over the query list)."""
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for o in run.ops:
        if o["ok"]:
            side = traced if o["traced"] else plain
            side.setdefault(o.get("query", run.suite[0]), []).append(o["s"])
    kinds = [k for k in run.suite if k in plain and k in traced]
    t = sum(statistics.median(traced[k]) for k in kinds)
    u = sum(statistics.median(plain[k]) for k in kinds)
    return {"trace.overhead_s": t - u,
            "trace.overhead_share": (t - u) / u if u else 0.0}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _environment(work)
        import workloads
        from spans import Tracer

        t0 = time.perf_counter()
        spark = _start_session(work)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id) if args.trace else None
        if tracer:
            workloads.install_wrappers(tracer)
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            sizes=workloads.TINY if args.tiny else workloads.Sizes(),
            tracer=tracer)
        run = workloads.WORKLOADS[args.workload](ctx)
        setup_s = (session_s + sum(run.setup.values())
                   + statistics.median(run.gen_s))
        if tracer:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
        rss_mb = _stop_jvm(spark)
        spark = None
    finally:
        if spark is not None:
            try:
                _stop_jvm(spark)
            except Exception as e:  # already failing; report and go on
                print(f"perfbench: JVM shutdown failed: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = [o for o in run.ops if not o["ok"]]
    failed_checks = [c for c in run.checks if not c[1]]
    attempted = len(run.ops) + len(run.checks)
    failed = len(failed_ops) + len(failed_checks)
    e2e, detail = end_to_end(run, setup_s)
    report = {
        "workload": args.workload, "seed": args.seed,
        "error_rate": failed / attempted,
        "jvm_peak_rss_mb": rss_mb,
        "setup": {"session_s": session_s, **run.setup,
                  "generate_s_median": statistics.median(run.gen_s)},
        **detail,
        "checks_s": run.checks_s,
        "checks": [{"name": n, "ok": ok, "detail": d}
                   for n, ok, d in run.checks],
        "failed_operations": [o.get("error", "wrong row count")
                              for o in failed_ops][:5],
    }
    if args.trace:
        values = per_layer(run, tracing_overhead(run),
                           workloads.LAYER_METRICS)
        units = {**workloads.LAYER_METRICS, **workloads.OVERHEAD_METRICS}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print("report " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
