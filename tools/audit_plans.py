"""Plan-hygiene audit over every driver query: exchanges, python-eval
nodes, join strategies, scan pushdown. Writes PLAN_AUDIT.md.

Red flags it hunts:
- BatchEvalPython  -> row-at-a-time python UDF in the plan (never OK);
- ArrowEvalPython / MapIn{Pandas,Arrow} / FlatMapGroupsIn{Pandas,Arrow}
  nodes are listed (expected only where pandas semantics or BLAS
  genuinely require python);
- CartesianProduct without an intentional broadcast;
- exchange counts per query (shuffle budget visibility).

Usage: python tools/audit_plans.py [--out PATH] sf_dir [query ...]

``--out`` names the audit file (default PLAN_AUDIT.md at the repo root).
Naming queries audits only those: their rows in the existing file are
replaced (a query the file lacks is appended to the table), the flag
line is refreshed for them, and every other row stays as it was. The
file must have been written for the same sf_dir.
"""
from __future__ import annotations

import argparse
import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _exchanges(plan: str) -> int:
    """Exchange count of a printed physical plan. A lazily checkpointed
    subtree prints as one ``ExistingRDD`` scan, so its exchanges are not
    counted."""
    return len(re.findall(r"(?<![A-Za-z])Exchange", plan))


_ROW = re.compile(r"\| (\S+) \|")
_FLAGS = "**Flags: "


def _row_line(row) -> str:
    return "| {} | {} | {} | {} |".format(*row)


def _flag_line(flagged) -> str:
    return f"{_FLAGS}{sorted(set(flagged)) or 'none'}**"


def _splice(old: str, sf_dir: str, rows, names, flagged) -> str:
    """``old`` audit text with the rows of ``names`` replaced by ``rows``
    and the flag line refreshed for them."""
    if f"sf_dir: {sf_dir}." not in old:
        raise SystemExit(f"the audit file was not written for {sf_dir}; "
                         f"rerun without a query filter")
    new = {r[0]: _row_line(r) for r in rows}
    lines, last_row = [], None
    for line in old.splitlines():
        m = _ROW.match(line)
        if m and m.group(1) in new:
            line = new.pop(m.group(1))
        if line.startswith(_FLAGS):
            body = line[len(_FLAGS):-2]
            kept = set() if body == "none" else set(ast.literal_eval(body))
            line = _flag_line((kept - set(names)) | set(flagged))
        lines.append(line)
        if line.startswith("| ") and not line.startswith("| query |"):
            last_row = len(lines)
    lines[last_row:last_row] = list(new.values())
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"))
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*", metavar="query")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    qs = E.queries()
    unknown = sorted(set(args.names) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if args.names:
        qs = {n: qs[n] for n in args.names}

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
        n_ex = _exchanges(plan)
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
             "a lazily checkpointed subtree prints as one ExistingRDD "
             "scan: its exchanges and python nodes run once per call "
             "and are not listed. BatchEvalPython "
             "(row-at-a-time python), unintended CartesianProduct, and "
             "query build errors are hard failures.",
             "",
             "| query | exchanges | joins | python/flags |",
             "|---|---|---|---|"]
    lines += [_row_line(r) for r in rows]
    lines.append("")
    lines.append(_flag_line(flagged))
    lines += [
        "",
        "## Composite-report exchange budgets (round-9 justification)",
        "",
        "- **pretrain_funnel** — fused in round 9: per-doc survival",
        "  flags on one lineage + ONE conditional aggregation replaced",
        "  five stage-count jobs (32 -> 12 exchanges, all corpus-sized",
        "  work is one scan + the md5 window + the LSH band subtree).",
        "- **drift_report** — the only corpus-sized job is the single",
        "  histogram groupBy (checkpointed, so not counted); the live",
        "  exchanges all operate on |slices| x |buckets| rows (~1e3),",
        "  invariant to corpus scale by construction.",
        "- **auc_roc / pr_curve / roc_curve** — one corpus-sized",
        "  grouped agg (checkpointed); live exchanges run on |distinct",
        "  rounded scores| rows (<= 10^score_bins). At 100 TB the",
        "  curve cost is the scan + that one agg.",
    ]
    out = "\n".join(lines) + "\n"
    if args.names:
        with open(args.out) as f:
            out = _splice(f.read(), sf_dir, rows, args.names, flagged)
    with open(args.out, "w") as f:
        f.write(out)
    print(out)
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
