"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "host": {cores, driver memory, CPU
count}}.

$SPARK_GRAFT_BENCH_SINK: "collect" (default — driver contract: the wall
time includes emitting results to the driver) or "noop" (terminate each
query with Spark's no-op batch sink instead — OPERATOR-ONLY cost, no
driver emit). In the default mode the FULL suite is re-run through the
noop sink afterwards and reported as "queries_noop": for pair/grid
queries whose output is large, driver emit is ~25%+ of collect-mode
wall time and would otherwise mask plan regressions in exactly the
most expensive operators. $SPARK_GRAFT_BENCH_NOOP_TOP=N bounds the
re-run to the N heaviest (for very large SFs).

$SPARK_GRAFT_BENCH_SKIP: comma-separated query names to leave out (for
very-large-SF runs where the quadratic-output pair enumerations get
dedicated single-query runs instead of sharing one session). Skipped
names are recorded in the payload as "skipped" so the artifact shows
what was excluded, not silently narrowed.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _read_proc_stat():
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except OSError:  # pragma: no cover - non-Linux
        return None


def _steal_pct(s0, s1):
    """CPU-steal percent over a /proc/stat delta; None when the kernel's
    cpu line has no steal column (fewer than 8 fields)."""
    if not s0 or not s1 or len(s0) <= 7 or len(s1) <= 7:
        return None
    ds = [y - x for x, y in zip(s0, s1)]
    return 100 * ds[7] / (sum(ds) or 1)


def error_line(e: Exception) -> str:
    """The line a failed query records: a ``HandyException``'s summary
    (its message starts with colour escapes), else the message's first
    line."""
    from handyspark_spark.core.util import HandyException
    if isinstance(e, HandyException):
        return e.summary
    return (str(e).strip().splitlines() or [type(e).__name__])[0]


def settle_gate(threshold=1.0, window=5.0, max_wait=600.0):
    """Pre-run host-settle gate: sample CPU steal in `window`-second
    slices and hold the bench until a slice reads below `threshold`%.

    Round-11's entire close-out ran on a co-tenant-interfered host and
    every committed suite total came out 1.13-1.35x inflated; the
    post-hoc host_steal flags correctly discounted readings but burned
    hours measuring a box that a 60s pre-check would have rejected.
    Returns a dict recorded in the artifact: {waited_sec, samples,
    final_steal_pct, passed}. SPARK_GRAFT_SETTLE_SECS=0 disables.
    """
    import time as _t
    waited, samples = 0.0, []
    while True:
        s0 = _read_proc_stat()
        _t.sleep(window)
        pct = _steal_pct(s0, _read_proc_stat())
        if pct is None:  # no steal column — nothing to gate on
            return {"waited_sec": round(waited, 1), "samples": [],
                    "final_steal_pct": None, "passed": True}
        samples.append(round(pct, 2))
        waited += window
        if pct < threshold:
            return {"waited_sec": round(waited, 1),
                    "samples": samples[-12:],
                    "final_steal_pct": round(pct, 2), "passed": True}
        if waited >= max_wait:
            print(f"settle gate: steal still {pct:.1f}% after "
                  f"{waited:.0f}s — proceeding, readings will carry "
                  f"host_steal flags", file=sys.stderr)
            return {"waited_sec": round(waited, 1),
                    "samples": samples[-12:],
                    "final_steal_pct": round(pct, 2), "passed": False}
        print(f"settle gate: steal {pct:.1f}% >= {threshold}% — waiting "
              f"({waited:.0f}/{max_wait:.0f}s)", file=sys.stderr)


def host() -> dict:
    """What a bench run ran on: the session's cores
    ($SPARK_GRAFT_CPUS, default 32) and driver memory
    ($SPARK_GRAFT_DRIVER_MEM, default 16g), and the host's CPU count.
    Recorded in the artifact so ``tools/diff_bench.py`` can tell a host
    change from a regression."""
    return {"spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "cpu_count": os.cpu_count()}


def bench_session(app: str = "handyspark_spark-bench"):
    """The one benchmark session of ``bench.py`` and the timing tools:
    local[cores] with as many shuffle partitions, AQE and Arrow on, UI
    off, and the driver memory of ``host()``."""
    from pyspark.sql import SparkSession
    h = host()
    cpus = h["spark_graft_cpus"]
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName(app)
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", h["driver_mem"])
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark, sf_dir: str) -> None:
    """Pay a session's one-time costs before anything is timed: file
    listing, JIT and python-worker spin-up, so per-query timings reflect
    steady-state operator cost."""
    from handyspark_spark.sources.loader import TABLES, load_table
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # the FIRST parquet write in a session pays ~4-5s of committer/codec
    # JIT — warm it so ann_ivf_index times its actual fit/save/search,
    # not JVM warmup
    import tempfile
    with tempfile.TemporaryDirectory(prefix="hsq_bench_warm_") as d:
        spark.range(1).coalesce(1).write.mode("overwrite").parquet(
            d + "/warm.parquet")
    # the FIRST ranged_cumsum in a session pays ~4s of one-time cost
    # (RangePartitioner sampling + localCheckpoint + window/broadcast
    # JIT) — warm it on a 1k-row frame so the first ranged_cumsum
    # consumer in suite order (KS/ROC family) times its operator, not
    # the JVM
    from handyspark_spark.operators.rank import ranged_cumsum
    ranged_cumsum(
        spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v",
                                     "CAST(1 AS LONG) AS c"),
        ["v"], ["c"]).count()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    settle_secs = float(os.environ.get("SPARK_GRAFT_SETTLE_SECS", "600"))
    settle = (settle_gate(max_wait=settle_secs) if settle_secs > 0
              else None)

    spark = bench_session()

    import __spark_entry__ as E
    qs = E.queries()

    warm_session(spark, sf_dir)

    sink = os.environ.get("SPARK_GRAFT_BENCH_SINK", "collect")
    skip = {s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP",
                                      "").split(",") if s}
    unknown = skip - set(qs)
    if unknown:
        # a typo'd skip name would leave the real query running while
        # the artifact claims it was excluded — fail fast instead
        sys.exit(f"SPARK_GRAFT_BENCH_SKIP names not in the query "
                 f"registry: {sorted(unknown)}")
    qs = {n: f for n, f in qs.items() if n not in skip}

    def run_one(fn, how: str) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if how == "noop":
            # full execution, zero driver transfer: every partition is
            # computed and discarded executor-side
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return time.perf_counter() - t0

    # host-interference attribution: inside this VM, co-tenant
    # hypervisor preemption (visible as CPU steal) amplifies into
    # lock-holder-preemption kernel spin and stretched GC — bracketed
    # tpch_q5 runs read 4.6-7.1s at steal <2% and 12.5-24.1s at steal
    # 2.6-5.6% on a byte-identical plan (artifacts/BRACKET_SF10_r11_q5_*,
    # recorded by a since-deleted bracketing harness). A query whose run
    # saw steal >= 2% is flagged so min-of-N and the diff gate can
    # discount the polluted reading.
    proc_stat = _read_proc_stat

    host_steal: dict[str, float] = {}

    # a failing query has no timing: it is recorded by name with its
    # error_line, and the run exits 1
    errors: dict[str, str] = {}

    timings: dict[str, float] = {}
    total = 0.0
    for name, fn in qs.items():
        s0 = proc_stat()
        try:
            dt = run_one(fn, sink)
        except Exception as e:
            errors[name] = error_line(e)
            continue
        s1 = proc_stat()
        steal = _steal_pct(s0, s1)
        if steal is not None and steal >= 2.0:
            host_steal[name] = round(steal, 2)
        timings[name] = round(dt, 3)
        total += dt

    noop_timings: dict[str, float] = {}
    if sink == "collect":
        # full-suite noop re-run (not just the top-10): collect-mode
        # wall time for result-heavy queries is dominated by driver
        # emit (resample_4h: 1.0s noop vs 16.7s collect at sf1), which
        # masks operator/plan regressions round-over-round. Both
        # timings are recorded; SPARK_GRAFT_BENCH_NOOP_TOP=N restores
        # the bounded form for very large SFs.
        top = os.environ.get("SPARK_GRAFT_BENCH_NOOP_TOP", "")
        ordered = sorted(timings, key=lambda n: -timings[n])
        if top:
            ordered = ordered[:int(top)]
        for name in ordered:
            try:
                noop_timings[name] = round(run_one(qs[name], "noop"), 3)
            except Exception as e:
                errors[name] = "noop: " + error_line(e)

    payload = {
        "metric": "operator_suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "host": host(),
    }
    if noop_timings:
        payload["queries_noop"] = noop_timings
    if host_steal:
        payload["host_steal"] = host_steal
    if settle is not None:
        payload["settle_gate"] = settle
    if sink != "collect":
        payload["sink"] = sink
    if skip:
        payload["skipped"] = sorted(skip)
    if errors:
        payload["errors"] = errors
    # The driver captures only a bounded tail of stdout and json-parses the
    # final line; a line longer than that buffer is truncated at the FRONT
    # and becomes unparseable (this bit round 2: 90 queries -> ~3.1k chars >
    # buffer -> BENCH_r02 "parsed": null). Keep the printed line comfortably
    # under the buffer, degrading per-query precision first and then
    # trimming the fastest queries; full detail always lands in
    # bench_full.json next to this script.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_full.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass
    line_budget = 2300
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > line_budget:
        payload["queries"] = {k: round(v, 1) for k, v in timings.items()}
        if noop_timings:
            payload["queries_noop"] = {k: round(v, 1)
                                       for k, v in noop_timings.items()}
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > line_budget and noop_timings:
        # printed line keeps only the 10 heaviest noop re-times; the
        # full per-query noop detail stays in bench_full.json
        heav = sorted(noop_timings, key=lambda n: -noop_timings[n])[:10]
        payload["queries_noop"] = {k: round(noop_timings[k], 1)
                                   for k in heav}
        line = json.dumps(payload, separators=(",", ":"))
    while len(line) > line_budget and payload["queries"]:
        # drop the fastest remaining query; keep the expensive ones visible
        slowest = dict(sorted(payload["queries"].items(),
                              key=lambda kv: -kv[1]))
        slowest.popitem()
        payload["queries"] = slowest
        payload["queries_shown"] = len(slowest)
        payload["queries_total"] = len(timings)
        line = json.dumps(payload, separators=(",", ":"))
    print(line)
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
