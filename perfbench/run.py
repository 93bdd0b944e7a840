"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Runs one seeded closed-loop workload (a single client thread driving
``local[N]``, N = min(SPARK_THREADS, nproc)) in a fresh interpreter whose working
directory is a private temp root inside the checkout, checks every
output against DuckDB, and prints two JSON lines: a full report with
provenance, then the result line (``correct``, ``attempted``,
``failed``, ``metrics``).  ``--trace 1`` prints the per-layer metrics
of a traced rerun instead of the end-to-end ones; see README.md.

The op counts are fixed per workload at ``--seconds`` = BASE_SECONDS
and scale with it, so a given ``--seconds`` always runs the same ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_run")
ENGINE = "census_asc5_data_pipeline_spark"

BASE_SECONDS = 30
# (reads, writes) per run at BASE_SECONDS.  40 reads put the read tail at
# p75 (child.TAIL_BEYOND); the write classes are too short for a tail.
OP_COUNTS = {
    "census_serve": (40, 6),
    "delta_dml": (40, 8),
    "iceberg_dml": (21, 8),
    "corpus_curation": (6, 6),
}
# end-to-end metrics in the result line, as in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "write_p50_ms": "ms",
    "storage_amp": "ratio",
}
CHILD_TIMEOUT_S = 170
# Spark task threads.  On a 4-vCPU host, 4 task threads compete with the
# JIT compiler, GC and the Python driver: per-op latency was still
# falling at the end of a run (census reads 650 -> 420 ms over 30 ops).
# With 2 it is flat after the warm-up, and these short ops are faster.
SPARK_THREADS = 2


def op_counts(workload: str, seconds: int) -> tuple[int, int]:
    r, w = OP_COUNTS[workload]
    scale = seconds / BASE_SECONDS
    return max(1, round(r * scale)), max(1, round(w * scale))


def end_to_end(res: dict) -> dict:
    """Every end-to-end metric the run has, error_rate included."""
    m = {
        "setup_s": res["setup_s"],
        "ops_per_s": res["ops_per_s"],
        "read_p50_ms": res["read"]["p50_ms"],
        "write_p50_ms": res["write"]["p50_ms"],
        "storage_amp": res["storage_amp"],
        "error_rate": res["failed"] / res["attempted"],
    }
    for kind in ("read", "write"):
        if "tail_ms" in res[kind]:
            m[f"{kind}_tail_ms"] = res[kind]["tail_ms"]
    return m


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the JVM and the
    Python workers live there too) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def run_child(workload: str, seed: int, counts, trace: bool, tmp: str) -> dict:
    os.makedirs(os.path.join(tmp, "tmp"))
    os.makedirs(os.path.join(tmp, "events"))
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{tmp}/events",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(min(SPARK_THREADS, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/tmp",
        PYSPARK_SUBMIT_ARGS=shlex.join(conf + ["pyspark-shell"]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
    )
    out = os.path.join(tmp, "result.json")
    log_path = os.path.join(tmp, "child.log")
    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", workload, "--seed", str(seed),
        "--n-read", str(counts[0]), "--n-write", str(counts[1]),
        "--t0", repr(t0), "--out", out, "--trace", str(int(trace)),
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if rc is None else ("set-up failed" if rc == 3 else f"exit code {rc}")
        raise RuntimeError(f"workload {workload} (seed {seed}): {why}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_COUNTS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=BASE_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks, which stop the child
    # process group and remove the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE}/ not found beside {HERE}", file=sys.stderr)
        return 2

    counts = op_counts(args.workload, args.seconds)
    tag = f"{args.workload}-s{args.seed}-n{counts[0]}x{counts[1]}"
    tmp = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    try:
        # the traced run is compared with an untraced one of the same
        # code, seed and op counts, run first in this invocation
        res = run_child(args.workload, args.seed, counts, False, os.path.join(tmp, "plain"))
        if args.trace:
            traced = run_child(args.workload, args.seed, counts, True,
                               os.path.join(tmp, "traced"))
            os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
            with open(os.path.join(RUNS, "traces", f"{tag}.json"), "w") as fh:
                json.dump(traced.pop("trace"), fh)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    e2e = end_to_end(res)
    report = {k: v for k, v in res.items() if k not in ("read", "write", "latencies_ms")}
    report.update(
        {
            "ops": {"read": res["read"]["n"], "write": res["write"]["n"]},
            "tail_pct": {k: res[k].get("tail_pct") for k in ("read", "write")},
            "end_to_end": e2e,
        }
    )
    if args.trace:
        layer = dict(traced["per_layer"])
        layer["trace.ops_per_s"] = traced["ops_per_s"]
        layer["trace.overhead_pct"] = 100.0 * (res["ops_per_s"] - traced["ops_per_s"]) / res["ops_per_s"]
        correct = traced["correct"] and res["correct"]
        attempted, failed = traced["attempted"], traced["failed"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in traced["per_layer_units"].items()}
        report["per_layer"] = layer
        report["traced"] = {
            "storage_amp": traced["storage_amp"],
            "ops": {"read": traced["read"]["n"], "write": traced["write"]["n"]},
            "errors": traced["errors"],
        }
    else:
        correct, attempted, failed = res["correct"], res["attempted"], res["failed"]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items() if k in e2e}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
