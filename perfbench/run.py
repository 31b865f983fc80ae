"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from the seed,
runs the closed loop for about S seconds against the package's public
functions, checks the outputs, and prints as its last stdout line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace
0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` spans are on and the metrics are the per-layer ones (the
tracing overhead is ``trace.latency_geomean_s`` over the untraced
``latency_geomean_s`` of the same seed, plus ``trace.bookkeeping_s`` per op). The line before it (``perfbench-report {...}``) carries the
host stamp, setup phases, every workload-specific metric and the op
counts. Spans of a traced run are written to ``.perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "customer_activity_lakehouse_spark"
P90_MIN_OPS = 100  # p90 needs >= 10 samples beyond it


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument("--perturb-check", action="store_true",
                   help="smoke test: give every output check a wrong expected value")
    return p.parse_args(argv)


def e2e_metrics(ctx, rss_mb: float) -> dict:
    from harness import median

    recs = ctx.records
    wall = sum(r.seconds for r in recs)
    return {
        "setup_s": ctx.timed_from - T_START,
        "latency_geomean_s": latency_geomean(recs),
        "ops_per_s": len(recs) / wall,
        "rows_per_s": sum(r.rows for r in recs) / wall,
        "latency_p50_s": median([r.seconds for r in recs]),
        "peak_rss_mb": rss_mb,
    }


def latency_geomean(recs) -> float:
    """Geometric mean over op kinds of each kind's median latency (the
    TPC-H power-metric shape): steady on a mixed op set, where the plain
    median jumps between kinds from run to run."""
    kind_p50 = [k["p50_s"] for k in _by_kind(recs).values()]
    return math.exp(sum(math.log(x) for x in kind_p50) / len(kind_p50))


def spark_layer_metrics(ctx) -> dict:
    from harness import median

    ops = ctx.tracer.ops
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def med(key, scale=1.0):
        return median([o[key] * scale for o in ops])

    wall = sum(o["wall_s"] for o in ops)
    return {
        "spark.exec_s": med("exec_s"),
        "spark.no_job_s": median([o["wall_s"] - o["exec_s"] for o in ops]),
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
        "spark.input_bytes": med("input_bytes"),
        "spark.executor_run_s": med("executor_run_ms", 1e-3),
        "spark.core_util": sum(o["executor_run_ms"] for o in ops) / 1e3 / (wall * cores),
        "spark.gc_s": med("gc_ms", 1e-3),
        "spark.failed_tasks": sum(o["failed_tasks"] for o in ops),
        "trace.child_coverage_min": min(ctx.tracer.coverage()),
        "trace.latency_geomean_s": latency_geomean(ctx.records),
        "trace.bookkeeping_s": ctx.tracer.bookkeeping_s / len(ops),
    }


def layer_metrics(ctx, names: list[str]) -> dict:
    spark_side = spark_layer_metrics(ctx)
    out = {}
    for name in names:
        base = name[:-2] if name.endswith("_s") else None
        if name in ctx.layers:
            out[name] = ctx.layers[name]
        elif name in spark_side:
            out[name] = spark_side[name]
        elif base in ctx.phases:
            out[name] = ctx.phases[base]
        elif base is not None:
            out[name] = ctx.tracer.layer_seconds(base)
        else:  # a count the workload does not produce: it does not use that layer
            out[name] = 0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    import harness
    import workloads
    from spans import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    harness.reset_dir(work)
    others = harness.other_processes()
    probe_start = harness.cpu_probe_s()
    spark = None
    try:
        t = time.perf_counter()
        spark = harness.start_session(work)
        phases = {"session.start": time.perf_counter() - t}
        ctx = harness.Ctx(spark=spark, seed=args.seed, seconds=args.seconds, tiny=args.tiny,
                          trace=bool(args.trace), work=work, tracer=Tracer(spark, False),
                          perturb=args.perturb_check, phases=phases)
        failures = workloads.run(args.workload, ctx)
        rss = harness.peak_rss_mb(spark)
        java = spark._jvm.System.getProperty("java.version")
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    recs = ctx.records
    failed = sum(1 for r in recs if not r.ok)
    e2e = e2e_metrics(ctx, rss)
    n = len(recs)
    if n >= P90_MIN_OPS:
        e2e["latency_p90_s"] = harness.percentile([r.seconds for r in recs], 90)
    else:
        ctx.report["latency_p90_s"] = f"omitted: {n} ops < {P90_MIN_OPS}"
    e2e["failed_ops_ratio"] = failed / max(1, len(recs))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {**harness.host_stamp(ROOT, others), "java": java,
                 "cpu_probe_s": [probe_start, harness.cpu_probe_s()]},
        "ops": n,
        "ops_by_kind": _by_kind(recs),
        "setup_phases_s": ctx.phases,
        "check_failures": failures[:20],
        "end_to_end": {k: {"value": v, "unit": units.get(k, REPORT_UNITS.get(k, "ratio"))}
                       for k, v in e2e.items()},
        **ctx.report,
    }
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        ctx.tracer.dump(spans_path)
        report["spans"] = os.path.relpath(spans_path, ROOT)
        names = [m["name"] for m in spec["per_layer"]]
        values = layer_metrics(ctx, names)
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print("perfbench-report " + json.dumps(report, default=str))
    result = {
        "correct": failed == 0 and not failures,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


def _by_kind(recs) -> dict:
    from harness import median

    kinds: dict[str, list[float]] = {}
    for r in recs:
        kinds.setdefault(r.kind, []).append(r.seconds)
    return {k: {"n": len(v), "p50_s": median(v)} for k, v in kinds.items()}


REPORT_UNITS = {"latency_p50_s": "s", "latency_p90_s": "s", "peak_rss_mb": "MB"}


if __name__ == "__main__":
    sys.exit(main())
