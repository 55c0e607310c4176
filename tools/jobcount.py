"""Spark jobs and seconds per ``__spark_entry__.queries()`` entry.

Each entry is built and forced by ONE action, a row count plus
``sum(xxhash64(all columns))``, under a job group of its own; the jobs
counted are the group's (AQE query stages, i.e. shuffles and
broadcasts, count as jobs). The hash is cast to decimal(38,0) before
the sum: a bigint sum overflows under Spark 4's ANSI mode. At the
sizes this repo measures a Spark job costs 0.3-2 s, so the job count
is the cost to cut.

Writes ``BENCH/JOBS.json``:
``{"sf_dir", "queries": {name: {"jobs", "seconds", "rows"}},
"total": {"jobs", "seconds", "queries"}}`` and prints one line per
entry. Entries run in ``queries()`` order in one process, so an entry
that fills a session cache first pays for it.

Usage: python tools/jobcount.py SF_DIR [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def count_jobs(spark, group: str, df) -> tuple[int, float, int]:
    """(jobs, seconds, rows) of forcing `df` once under `group`."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.monotonic()
    try:
        row = df.agg(F.count(F.lit(1)), F.sum(
            F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    dt = time.monotonic() - t0
    return len(sc.statusTracker().getJobIdsForGroup(group)), dt, int(row[0])


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
        jobs, dt, rows = count_jobs(spark, f"jobcount-{name}",
                                    fn(spark, sf_dir))
        per[name] = {"jobs": jobs, "seconds": round(dt, 3), "rows": rows}
        print(f"{name:32s} jobs={jobs:4d} s={dt:8.2f} rows={rows}",
              flush=True)
    total = {"jobs": sum(v["jobs"] for v in per.values()),
             "seconds": round(sum(v["seconds"] for v in per.values()), 3),
             "queries": len(per)}
    print(f"TOTAL jobs={total['jobs']} s={total['seconds']:.1f} "
          f"queries={total['queries']}")
    out = os.path.join(ROOT, "BENCH", "JOBS.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": per, "total": total}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
