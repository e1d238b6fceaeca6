"""Standalone per-query timer: one Spark session, each named queries()
entry run R times (full collect, the driver contract), per-run seconds
plus min/median (and min over runs 2+, past one-time session warmup)
reported — the targeted-measurement companion to
bench_minof.py for chasing a single query's regression without paying
a full-suite run.

Usage:
    python tools/time_query.py SF_DIR query [query ...] [--runs N]
        [--json OUT.json] [--force] [--sink collect|noop]

``--sink noop`` terminates each query with the noop datasource write
instead of a driver collect — isolates executor-side compute for
queries whose output is grid/pair fan-out (the bench suite's
"queries_noop" convention). For large SFs size the driver too:
``SPARK_GRAFT_DRIVER_MEM=40g python tools/time_query.py SF_DIR query
--sink noop --runs 2``.

Refuses on an unsettled machine (load1 >= 1.0) unless --force, same as
the bench protocol. $SPARK_GRAFT_CPUS / $SPARK_GRAFT_DRIVER_MEM size
the session (defaults 32 / 16g).
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = [a for a in sys.argv[1:]]
    runs, out_json, force, sink = 3, None, False, "collect"
    if "--force" in args:
        force = True
        args.remove("--force")
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        del args[i:i + 2]
    if "--sink" in args:
        i = args.index("--sink")
        sink = args[i + 1]
        del args[i:i + 2]
    if sink not in ("collect", "noop"):
        sys.exit(f"unknown --sink {sink!r} (collect|noop)")
    if len(args) < 2:
        sys.exit(__doc__)
    sf_dir, names = args[0], args[1:]

    load1 = os.getloadavg()[0]
    if load1 >= 1.0 and not force:
        sys.exit(f"machine not settled (load1={load1:.2f}); wait or "
                 f"pass --force")

    from bench import bench_session
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench_session("time-query")
    import __spark_entry__ as E
    qs = E.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    result = {}
    for name in names:
        secs = []
        for r in range(runs):
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            secs.append(round(time.monotonic() - t0, 3))
        result[name] = {"runs": secs, "min": min(secs),
                        "median": round(statistics.median(secs), 3)}
        if len(secs) > 1:
            # run 1 pays one-time session warmup; no call reads another
            # call's data, so min over runs 2+ is the per-invocation cost
            result[name]["min_warm_session"] = min(secs[1:])
        print(f"{name}: runs={secs} min={min(secs)} "
              f"median={result[name]['median']}", flush=True)

    if out_json:
        with open(out_json, "w") as f:
            json.dump({"sf_dir": sf_dir, "cpus": cpus, "runs": runs,
                       "sink": sink,
                       "queries": result}, f, indent=1)
        print(f"wrote {out_json}")
    spark.stop()


if __name__ == "__main__":
    main()
