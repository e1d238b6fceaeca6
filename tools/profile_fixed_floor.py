"""Decompose the per-query fixed floor at a given SF: for each sampled
query, split wall time into PLAN CONSTRUCTION (`fn(spark, sf_dir)` — py4j
chatter, load_table schema inference) vs EXECUTION (`collect()`), and
separately time `load_table` / `spark.read.parquet` per table so the
schema-inference share of construction is attributable.

Usage: python tools/profile_fixed_floor.py [sf_dir] [query ...]
       (default: every registered query)

Writes one JSON line per query to stdout; summary at the end.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = [a for a in sys.argv[1:]]
    if args and (os.sep in args[0] or args[0].startswith(".")) \
            and not os.path.isdir(args[0]):
        sys.exit(f"error: sf_dir {args[0]!r} is not a directory")
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args

    from bench import bench_session, warm_session
    spark = bench_session("profile-fixed-floor")

    import __spark_entry__ as E
    qs = E.queries()
    if names:
        unknown = [n for n in names if n not in qs]
        if unknown:
            sys.exit(f"error: unknown queries {unknown} "
                     f"(registry has {len(qs)})")
        qs = {n: qs[n] for n in names}

    from handyspark_spark.sources.loader import TABLES, load_table
    warm_session(spark, sf_dir)

    # 1. scheduling floor: a trivial 1-row action
    triv = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).collect()
        triv.append(time.perf_counter() - t0)
    # 2. load_table cost per table (steady-state, post-warmup)
    lt = {}
    for t in TABLES:
        t0 = time.perf_counter()
        load_table(spark, sf_dir, t)
        lt[t] = round(time.perf_counter() - t0, 4)
    # 3. per-query construction vs execution
    rows = []
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
        except Exception as e:
            print(json.dumps({"query": name, "error": str(e)[:100]}))
            continue
        t1 = time.perf_counter()
        try:
            df.collect()
        except Exception as e:
            print(json.dumps({"query": name, "error": str(e)[:100]}))
            continue
        t2 = time.perf_counter()
        r = {"query": name, "construct": round(t1 - t0, 3),
             "execute": round(t2 - t1, 3)}
        rows.append(r)
        print(json.dumps(r), flush=True)

    tot_c = sum(r["construct"] for r in rows)
    tot_e = sum(r["execute"] for r in rows)
    print(json.dumps({
        "summary": True, "n": len(rows),
        "construct_total": round(tot_c, 2),
        "execute_total": round(tot_e, 2),
        "construct_mean": round(tot_c / max(len(rows), 1), 3),
        "trivial_action_secs": [round(x, 3) for x in triv],
        "load_table_secs": lt,
        "sf_dir": sf_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
