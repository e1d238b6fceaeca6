"""Plan-hygiene audit over every driver query: exchanges, python-eval
nodes, join strategies, scan pushdown. Writes PLAN_AUDIT.md.

Red flags it hunts:
- BatchEvalPython  -> row-at-a-time python UDF in the plan (never OK);
- ArrowEvalPython / MapIn{Pandas,Arrow} / FlatMapGroupsIn{Pandas,Arrow}
  nodes are listed (expected only where pandas semantics or BLAS
  genuinely require python);
- CartesianProduct without an intentional broadcast;
- exchange counts per query (shuffle budget visibility).

Usage: python tools/audit_plans.py [sf_dir]
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _exchange_split(plan: str) -> tuple[int, int]:
    """(live, cached) exchange counts for a printed physical plan.

    Exchanges inside an InMemoryRelation's printed cached subtree
    execute ONCE at materialization and are replaced by the cache scan
    on every later reference — counting them per reference misread the
    round-6 single-materialization fix as a +8-exchange regression
    (round-8 advice). A cached subtree is every following line printed
    DEEPER than its InMemoryRelation header (tree-print indentation is
    monotone in depth)."""
    live = cached = 0
    skip_depth = None
    for line in plan.splitlines():
        m = re.search(r"[+:]-", line)
        depth = m.start() if m else len(line) - len(line.lstrip())
        if skip_depth is not None:
            if depth > skip_depth:
                if re.search(r"(?<![A-Za-z])Exchange", line):
                    cached += 1
                continue
            skip_depth = None
        if "InMemoryRelation" in line:
            skip_depth = depth
            continue
        if re.search(r"(?<![A-Za-z])Exchange", line):
            live += 1
    return live, cached


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    qs = E.queries()

    rows = []
    flagged = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            rows.append((name, "-", "-", f"ERROR {str(e)[:80]}"))
            flagged.append(name)        # a broken query fails the gate
            continue
        live, cached = _exchange_split(plan)
        n_ex = live if not cached else f"{live}+{cached}c"
        notes = []
        if "BatchEvalPython" in plan:
            notes.append("ROW-AT-A-TIME-PYTHON")
            flagged.append(name)
        py_nodes = sorted(set(re.findall(
            r"(ArrowEvalPython|MapIn(?:Pandas|Arrow)|"
            r"FlatMapGroupsIn(?:Pandas|Arrow))", plan)))
        if py_nodes:
            notes.append("+".join(py_nodes))
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
        if "CartesianProduct" in joins:
            notes.append("CARTESIAN")
            flagged.append(name)
        rows.append((name, n_ex, "+".join(joins) or "-",
                     " ".join(notes) or "-"))

    lines = ["# PLAN_AUDIT — physical-plan hygiene per driver query",
             "",
             f"sf_dir: {sf_dir}. Exchanges counted on the initial "
             "physical plan (executedPlan before AQE re-optimization); "
             "`L+Nc` means L live exchanges plus N inside a cached "
             "(InMemoryRelation) subtree that executes once at "
             "materialization — not per reference. BatchEvalPython "
             "(row-at-a-time python), unintended CartesianProduct, and "
             "query build errors are hard failures.",
             "",
             "| query | exchanges | joins | python/flags |",
             "|---|---|---|---|"]
    for name, n_ex, joins, notes in rows:
        lines.append(f"| {name} | {n_ex} | {joins} | {notes} |")
    lines.append("")
    lines.append(f"**Flags: {sorted(set(flagged)) or 'none'}**")
    lines += [
        "",
        "## Composite-report exchange budgets (round-9 justification)",
        "",
        "- **pretrain_funnel** — fused in round 9: per-doc survival",
        "  flags on one lineage + ONE conditional aggregation replaced",
        "  five stage-count jobs (32 -> 12 exchanges, all corpus-sized",
        "  work is one scan + the md5 window + the LSH band subtree).",
        "- **drift_report** — the only corpus-sized job is the single",
        "  histogram groupBy (cached, the `+Nc` block); the 7 live",
        "  exchanges all operate on |slices| x |buckets| rows (~1e3),",
        "  invariant to corpus scale by construction.",
        "- **auc_roc / pr_curve / roc_curve** — one corpus-sized",
        "  grouped agg (cached); live exchanges run on |distinct",
        "  rounded scores| rows (<= 10^score_bins). At 100 TB the",
        "  curve cost is the scan + that one agg.",
    ]
    out = "\n".join(lines) + "\n"
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
        f.write(out)
    print(out)
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
