"""Spark jobs and seconds per ``__spark_entry__.queries()`` entry.

Each entry runs under two job groups of its own. The build group
covers ``fn(spark, sf_dir)``, i.e. every job that runs while the
query is built (schema inference of a parquet read, a driver collect,
an eager checkpoint, an iterative loop). The action group covers ONE
action that forces the result, a row count plus
``sum(xxhash64(all columns))``. The jobs counted are the groups' (AQE
query stages, i.e. shuffles and broadcasts, count as jobs). The hash
is cast to decimal(38,0) before the sum: a bigint sum overflows under
Spark 4's ANSI mode. At the sizes this repo measures a Spark job
costs 0.3-2 s, so the job count is the cost to cut.

Each entry also records ``digest``, the action's
``sum(xxhash64(all columns))`` as a decimal string (equal digests
across two revisions or two configs mean the same rows), and
``compiles``, the classes the JVM's code generator compiled across
build and action (``CodegenMetrics``; a generated-class cache hit
compiles nothing).

Writes ``BENCH/JOBS.json``:
``{"sf_dir", "queries": {name: {"build_jobs", "action_jobs", "jobs",
"build_s", "action_s", "seconds", "rows", "digest", "compiles"}},
"total": {the counts and seconds, plus "queries"}}`` (``jobs`` and
``seconds`` are build plus action) and prints one line per entry.
Entries run in ``queries()`` order in one process, so an entry that
fills a session cache first pays for it. Naming queries runs only
those; when the existing file has the same ``sf_dir`` their entries
replace its entries and the total is taken over every entry, else the
file holds just them.

Usage: python tools/jobcount.py SF_DIR [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def in_group(spark, group: str, thunk):
    """(result, jobs, seconds) of calling `thunk()` under job `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.monotonic()
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    dt = time.monotonic() - t0
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), dt


def compiles(spark) -> int:
    """Classes the JVM's code generator has compiled so far (a cache
    hit compiles nothing)."""
    src = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return src.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def count_jobs(spark, name: str, fn, sf_dir: str) -> dict:
    """Build jobs, action jobs, seconds, rows, digest and compiled
    classes of one entry."""
    from pyspark.sql import functions as F

    c0 = compiles(spark)
    df, bj, bs = in_group(spark, f"jobcount-build-{name}",
                          lambda: fn(spark, sf_dir))
    row, aj, as_ = in_group(spark, f"jobcount-{name}", lambda: df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first())
    return {"build_jobs": bj, "action_jobs": aj, "jobs": bj + aj,
            "build_s": round(bs, 3), "action_s": round(as_, 3),
            "seconds": round(bs + as_, 3), "rows": int(row[0]),
            "digest": str(row[1] or 0), "compiles": compiles(spark) - c0}


def main() -> int:
    import __spark_entry__ as entrymod
    from sparkspatial.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sf_dir, only = sys.argv[1], set(sys.argv[2:])

    spark = get_spark(app="jobcount", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    per = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        r = per[name] = count_jobs(spark, name, fn, sf_dir)
        print(f"{name:32s} build={r['build_jobs']:4d} "
              f"action={r['action_jobs']:4d} s={r['seconds']:8.2f} "
              f"compiles={r['compiles']:4d} rows={r['rows']}", flush=True)
    out = os.path.join(ROOT, "BENCH", "JOBS.json")
    if only:
        # a partial run updates its entries in a file of the same sf_dir
        try:
            with open(out) as f:
                prev = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev = {}
        if prev.get("sf_dir") == sf_dir:
            per = {**prev.get("queries", {}), **per}
    total = {key: round(sum(v.get(key, 0) for v in per.values()), 3)
             for key in ("build_jobs", "action_jobs", "jobs", "build_s",
                         "action_s", "seconds", "compiles")}
    total["queries"] = len(per)
    print(f"TOTAL build={total['build_jobs']} action={total['action_jobs']}"
          f" jobs={total['jobs']} s={total['seconds']:.1f} "
          f"compiles={total['compiles']} queries={total['queries']}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": per, "total": total}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
