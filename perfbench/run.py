"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_batches --seed 1 \
        --seconds 8 --trace 0

Runs one workload in this process and its own Spark JVM at
local[nproc], as a closed loop for --seconds, checks every operation's
output outside the timed region, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/NOTES.md).

Run from the root of a sparkspatial checkout; the base corpora are
built from the sf tables on first use under .perfbench_cache/ and
.bench_cache/.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("pipeline_batches", "query_mix")



def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def missing_repo() -> str | None:
    for rel in ("sparkspatial/__init__.py", "bench.py", "tools/membw_probe.py",
                "BENCHMARK.json"):
        if not (ROOT / rel).is_file():
            return f"not a sparkspatial checkout: {ROOT / rel} is missing"
    return None


def build_inputs(sf_dir: str) -> int:
    """Child process: build the base corpora in a Spark JVM of its own,
    so no run's set-up inherits a warmed JVM or pays the build."""
    from perfbench import inputs
    from perfbench.harness import Run

    run = Run("inputs", 0, 0, False, sf_dir)
    try:
        run.start_spark()
        inputs.build(run.spark, sf_dir)
    finally:
        run.stop()
        run.cleanup()
    return 0


def workload_of(name: str):
    if name == "pipeline_batches":
        from perfbench.pipeline_batches import PipelineBatches
        return PipelineBatches
    from perfbench.query_mix import QueryMix
    return QueryMix


def bench(args) -> dict:
    from perfbench import harness, inputs
    from perfbench.harness import Run, TreeRss

    if not inputs.ready(args.sf_dir):
        subprocess.run([sys.executable, str(Path(__file__).resolve()),
                        "--build-inputs", "--sf-dir", args.sf_dir],
                       cwd=ROOT, check=True, timeout=850)
    env = {"workload": args.workload, "seed": args.seed,
           "nproc": harness.nproc(), "local_width": harness.nproc(),
           "heap": harness.HEAP, "membw_gbps_before": harness.membw_reading()}
    jiffies0 = harness.cpu_jiffies()

    t_setup = time.monotonic()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.sf_dir)
    wl = workload_of(args.workload)(run, inputs.Seeded(args.seed))
    rss = TreeRss().start()
    try:
        t = time.monotonic()
        wl.inputs()
        gen_s = time.monotonic() - t
        run.start_spark()
        env["heap_mb_jvm"] = round(run.heap_mb(), 1)
        t = time.monotonic()
        wl.setup()
        env["builds_s"] = round(time.monotonic() - t, 3)
        env.update({k: round(v, 3) for k, v in run.layer.items()})
        t = time.monotonic()
        env["warm_reps"] = run.warm(wl.warm_shapes())
        env["warm_s"] = round(time.monotonic() - t, 3)
        setup_s = time.monotonic() - t_setup - gen_s
        loop_s = run.closed_loop(wl.groups())
        t = time.monotonic()
        try:
            wl.verify()
        except Exception:
            run.failures.append("verify: " + traceback.format_exc(limit=3))
        env["verify_s"] = round(time.monotonic() - t, 3)
        if run.trace:
            run.finish_trace(wl.layers)
    finally:
        peak_mb = rss.stop()
        t = time.monotonic()
        run.stop()
        run.cleanup()
        env["stop_s"] = round(time.monotonic() - t, 3)

    jiffies1 = harness.cpu_jiffies()
    env.update({
        "membw_gbps_after": harness.membw_reading(),
        "steal_pct": round(100.0 * (jiffies1[1] - jiffies0[1])
                           / max(1, jiffies1[0] - jiffies0[0]), 3),
        "item": wl.item,
        "input_gen_s": round(gen_s, 3), "loop_s": round(loop_s, 3),
        "failures": run.failures[:5]
        + [f"{r.shape}: {r.error}" for r in run.records if r.error][:5],
    })

    end_to_end, per_layer = metric_units()
    prim = [r for r in run.ops(traced=False)
            if r.shape in wl.primary and not r.error]
    items_per_s = (sum(r.items for r in prim)
                   / max(1e-9, sum(r.seconds for r in prim)))
    if run.trace:
        # the traced twin of every primary op against its untraced twin:
        # the tracing overhead on identical work
        tr = [r for r in run.ops(traced=True)
              if r.shape in wl.primary and not r.error]
        run.layer["trace.items_per_s"] = (
            sum(r.items for r in tr) / max(1e-9, sum(r.seconds for r in tr)))
        run.layer["trace.overhead_ratio"] = (
            sum(r.seconds for r in tr) / max(1e-9, sum(r.seconds for r in prim)))
        values = {k: run.layer.get(k, 0.0) for k in per_layer}
        units = per_layer
    else:
        values = {
            "setup_s": setup_s,
            "items_per_s": items_per_s,
            "op_p50_s": harness.geomean([
                harness.median([r.seconds for r in prim if r.shape == s])
                for s in wl.primary]),
            "peak_rss_mb": peak_mb,
        }
        units = end_to_end
    failed = sum(1 for r in run.records if r.error) + len(run.failures)
    print("perfbench-env " + json.dumps(env, sort_keys=True), flush=True)
    return {
        "correct": failed == 0 and bool(prim),
        "attempted": max(1, len(run.records)),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=None,
                   help="sf tables (default: bench.py's SF_DIR)")
    p.add_argument("--build-inputs", action="store_true",
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    err = missing_repo()
    if err is None:
        from bench import SF_DIR
        args.sf_dir = args.sf_dir or SF_DIR
    if err is None and not Path(args.sf_dir, "lineitem.parquet").exists():
        err = f"sf tables not found under {args.sf_dir}"
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    if args.build_inputs:
        return build_inputs(args.sf_dir)
    if args.workload is None:
        p.error("--workload is required")
    print(json.dumps(bench(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
