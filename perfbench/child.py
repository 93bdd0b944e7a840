"""One workload run in a fresh interpreter (started by ``run.py``).

Usage: python3 perfbench/child.py --workload NAME --seed N --n-read R
           --n-write W --t0 EPOCH --out result.json [--trace 1]

The working directory is the run's private temp root.  Exit code 3
means set-up failed; the error is on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail
TAIL_MIN_N = 4 * TAIL_BEYOND  # so that a reported tail is at least p75


def latency_stats(ms: list[float]) -> dict:
    """Median, and the highest percentile with >= TAIL_BEYOND samples
    beyond it (absent when the class has fewer than TAIL_MIN_N ops, where
    that percentile would sit close to the median)."""
    s = sorted(ms)
    out = {"n": len(s), "p50_ms": statistics.median(s)}
    if len(s) >= TAIL_MIN_N:
        out["tail_ms"] = s[len(s) - TAIL_BEYOND - 1]
        out["tail_pct"] = round(100.0 * (len(s) - TAIL_BEYOND) / len(s), 2)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n-read", type=int, required=True)
    ap.add_argument("--n-write", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()

    from workloads import WORKLOADS
    from census_asc5_data_pipeline_spark import session

    try:
        spark = session.get_spark("perfbench")
        if tracer:
            tracer.bind(spark)
        wl = WORKLOADS[args.workload](
            spark, os.path.abspath("work"), args.seed, args.n_read, args.n_write
        )
        wl.setup()
        n_warm = wl.n_warm
        digests: list[str | None] = []
        for kind, arg in wl.ops[:n_warm]:
            digests.append(wl.run(kind, arg))
    except Exception:
        traceback.print_exc()
        print(f"workload {args.workload}: set-up failed", file=sys.stderr)
        return 3

    t_first = time.time()
    lat: dict[str, list[float]] = {"read": [], "write": []}
    errors: list[str] = []
    for i, (kind, arg) in enumerate(wl.ops[n_warm:]):
        t = time.perf_counter()
        try:
            if tracer:
                with tracer.op_span(i, kind):
                    d = wl.run(kind, arg)
            else:
                d = wl.run(kind, arg)
        except Exception:
            errors.append(traceback.format_exc())
            d = None
        lat[kind].append((time.perf_counter() - t) * 1000.0)
        digests.append(d)
        if tracer and kind == "read" and hasattr(wl, "last_kept"):
            tracer.note("curation.kept_ratio", wl.last_kept / wl.shard_docs)
    timed_s = time.time() - t_first

    # output checks, all after the timed phase
    expected, final_ok = wl.expected()
    failed = len(errors)
    for j, (got, want) in enumerate(zip(digests, expected)):
        if j >= n_warm and got is not None and want is not None and got != want:
            failed += 1
            errors.append(f"op {j - n_warm} {wl.ops[j]}: result differs from DuckDB")
    warm_ok = all(
        w is None or g == w for g, w in zip(digests[:n_warm], expected[:n_warm])
    )
    n_timed = len(wl.ops) - n_warm
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "correct": failed == 0 and final_ok and warm_ok,
        "attempted": n_timed,
        "failed": failed,
        "errors": errors[:5],
        "setup_s": t_first - args.t0,
        "timed_s": timed_s,
        "ops_per_s": n_timed / timed_s,
        "read": latency_stats(lat["read"]),
        "write": latency_stats(lat["write"]),
        "storage_amp": wl.storage_amp(),
        "latencies_ms": lat,
        "warmup_ops": {"read": wl.warmup_reads, "write": wl.warmup_writes},
        "spark_threads": int(os.environ["SPARK_GRAFT_CPUS"]),
        "nproc": os.cpu_count(),
        "pyspark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    if tracer:
        import tracing

        extra = {"peak_rss_mb": tracing.peak_rss_mb(spark)}
        if args.workload == "delta_dml":
            log = os.path.join(wl.path, "_delta_log")
            extra["delta_checkpoints"] = sum(
                ".checkpoint" in n and n.endswith(".parquet") and not n.startswith(".")
                for n in os.listdir(log)
            )
            extra["delta_live_files"] = len(
                tracer.original("delta_io.read_delta")(spark, wl.path).inputFiles()
            )
        if args.workload == "iceberg_dml":
            from workloads import du

            extra["iceberg_metadata_bytes"] = du(os.path.join(wl.path, "metadata"))
        spark.stop()
        metrics, dump = tracer.report(os.path.abspath("events"), extra)
        result["per_layer"] = metrics
        result["per_layer_units"] = tracing.PER_LAYER
        result["trace"] = dump
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
