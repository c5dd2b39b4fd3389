"""gdal_spark benchmark: one closed-loop client on a local Spark session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a traced run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import common as C
import kernels_probe as K
import spans as T
import workloads as W

# (name, unit) of the end-to-end metrics
END_TO_END = (
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("cpu_ms_per_item", "ms"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for scope in T.SCOPES:
        out += [(f"{scope}.{name}", unit, better) for name, unit, better in T.SCOPE_METRICS]
        if scope in T.PIPELINE_SCOPES:
            out.append((f"{scope}.out.bytes", "B", "lower"))
    out += [(name, unit, "higher") for name, unit in K.METRICS]
    out += [("trace.overhead_s", "s", "lower"), ("trace.repeat_counters", "count", "higher"),
            ("peak_rss_mb", "MB", "lower"), ("failed_frac", "ratio", "lower")]
    return out


def wall(op_set) -> float:
    return sum(lat for lat, _, _ in op_set)


def items(op_set) -> float:
    return sum(n for _, _, n in op_set)


def measure(wl, seconds: float, setup_s: float) -> tuple[dict, list, dict]:
    """Untraced: op-sets until ``seconds`` have passed and at least
    ``wl.min_sets`` ran."""
    sets, t_end = [], time.perf_counter() + seconds
    with C.ProcSampler(os.getpid()) as proc:
        while time.perf_counter() < t_end or len(sets) < wl.min_sets:
            sets.append(wl.op_set(len(sets) + 1))
    ops = [op for s in sets for op in s]
    host = proc.report()
    metrics = {
        "setup_s": setup_s,
        "items_per_s": median([items(s) / wall(s) for s in sets]),
        "op_p50_s": median([lat for lat, _, _ in ops]),
        "cpu_ms_per_item": 1e3 * host["cpu_s"] / items(ops),
    }
    return metrics, ops, {"op_sets": sets, "host": host}


def traced(wl, spark, tracer, seed: int) -> tuple[dict, list, dict]:
    """Traced rep 1, one untraced op-set, traced rep 2, then the kernel
    probe; the per-layer split is rep 1's."""
    with C.ProcSampler(os.getpid()) as proc:
        sets = [wl.op_set(1)]
        tracer.enabled = False
        untraced = wl.op_set(0)
        tracer.enabled = True
        sets.append(wl.op_set(2))
    with tracer.span("kernels_probe"):
        kernel_rates = K.run(seed, tracer)
    by_scope = T.SparkMetrics(spark).collect(tracer)
    repeat = T.repeat_report(by_scope, 1, 2)
    metrics = T.per_layer(by_scope, rep=1) | kernel_rates
    metrics["trace.overhead_s"] = median([wall(s) for s in sets]) - wall(untraced)
    metrics["trace.repeat_counters"] = sum(same for r in repeat.values() for _, _, same in r.values())
    metrics["peak_rss_mb"] = proc.peak_mb
    ops = untraced + [op for s in sets for op in s]
    detail = {"op_sets": [untraced] + sets, "host": proc.report(), "repeat": repeat,
              "spans": tracer.spans}
    return metrics, ops, detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = C.workdir(run_id)
    spark = None
    try:
        wl = W.WORKLOADS[args.workload]()
        C.configure_env(work)
        # the seeded inputs are written while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(wl.make_inputs, work, args.seed)
            spark = C.start_spark(work, wl.cores)
            spark_span = ("session.get_spark", time.time() - (time.perf_counter() - t_start), time.time())
            inputs_span = inputs.result()
        tracer = T.Tracer(spark, run_id, trace)
        tracer.add(*spark_span)
        tracer.add(*inputs_span)
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t_start
        if trace:
            metrics, ops, detail = traced(wl, spark, tracer, args.seed)
            units = {name: unit for name, unit, _ in per_layer_metrics()}
        else:
            metrics, ops, detail = measure(wl, args.seconds, setup_s)
            units = dict(END_TO_END)
        # the set-up oracle check counts as one more operation
        failed = sum(not ok for _, ok, _ in ops) + (not wl.setup_ok)
        attempted = len(ops) + 1
        if trace:
            metrics["failed_frac"] = failed / attempted
        env = C.env_record(args.seed, args.workload, trace, wl.cores)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        C.write_json(C.ROOT / "perfbench_out" / f"{run_id}.json",
                     {"env": env, "result": result, "setup_s": setup_s, **detail})
    finally:
        if spark is not None:
            C.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
