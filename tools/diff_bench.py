"""Per-query diff of two bench artifacts (the same comparison the
round verdicts run on bench_full.json, applied to any pair — closes the
round-8 gap of sf1 artifacts existing with no per-query regression
check).

Usage: python tools/diff_bench.py OLD.json NEW.json [--top N]

Prints total ratio, per-query median ratio, and the N worst regressions
and best improvements (absolute-seconds-weighted: a 1.3x on a 0.1s query
is noise; on a 40s query it is not). Exit code 1 when any query >= 2s in
either artifact regressed by more than 1.5x — a loud gate suitable for
round close-out.

When both artifacts record their ``host`` (bench.py: session cores,
driver memory, host CPU count) and the hosts differ, the timings are
not comparable: both hosts are printed and the exit code is 3, with no
regression verdict.
"""
from __future__ import annotations

import json
import statistics
import sys


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    top = 10
    if "--top" in sys.argv:
        top = int(sys.argv[sys.argv.index("--top") + 1])
    old_p, new_p = args[0], args[1]
    old = json.load(open(old_p))
    new = json.load(open(new_p))
    oq, nq = old["queries"], new["queries"]
    common = sorted(set(oq) & set(nq))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))

    ratios = {q: (nq[q] / oq[q] if oq[q] > 0 else float("inf"))
              for q in common}
    print(f"old: {old_p}  total={old.get('value')}s  n={len(oq)}")
    print(f"new: {new_p}  total={new.get('value')}s  n={len(nq)}")
    if only_old:
        print(f"dropped queries: {only_old}")
    if only_new:
        print(f"added queries:   {only_new}")
    tot_common_old = sum(oq[q] for q in common)
    tot_common_new = sum(nq[q] for q in common)
    print(f"common-query totals: {tot_common_old:.1f}s -> "
          f"{tot_common_new:.1f}s ({tot_common_new / tot_common_old:.3f}x)")
    print(f"per-query ratio median={statistics.median(ratios.values()):.3f} "
          f"mean={statistics.fmean(ratios.values()):.3f}")

    # weight by absolute delta so sub-second noise doesn't dominate
    by_delta = sorted(common, key=lambda q: nq[q] - oq[q])
    print(f"\nworst {top} regressions (by +seconds):")
    for q in reversed(by_delta[-top:]):
        print(f"  {q:34s} {oq[q]:8.2f} -> {nq[q]:8.2f}  "
              f"({ratios[q]:.2f}x, {nq[q] - oq[q]:+.2f}s)")
    print(f"\nbest {top} improvements (by -seconds):")
    for q in by_delta[:top]:
        print(f"  {q:34s} {oq[q]:8.2f} -> {nq[q]:8.2f}  "
              f"({ratios[q]:.2f}x, {nq[q] - oq[q]:+.2f}s)")

    def steal_only(art, q):
        # co-tenant CPU steal >= 2% on every run that produced the
        # number (bench.py host_steal; bench_minof keeps per-run lists)
        st = art.get("host_steal", {}).get(q)
        if st is None:
            return False
        flags = st if isinstance(st, list) else [st]
        return all(f is not None for f in flags)

    if "host" in old and "host" in new and old["host"] != new["host"]:
        print(f"\nDIFFERENT HOSTS: old {old['host']}, new {new['host']}: "
              "no regression verdict; re-run both artifacts on one host")
        sys.exit(3)
    steal_skip = sorted(q for q in common
                        if steal_only(new, q) and ratios[q] > 1.5)
    bad = [q for q in common
           if max(oq[q], nq[q]) >= 2.0 and ratios[q] > 1.5
           and q not in steal_skip]
    if steal_skip:
        print(f"\nsteal-polluted reads excluded from the gate "
              f"(re-measure clean): {steal_skip}")
    if bad:
        print(f"\nREGRESSION GATE: {len(bad)} queries >=2s regressed "
              f">1.5x: {bad}")
    # an exclusion is a deferred verdict, not a pass: a persistently
    # noisy host would otherwise make a real regression permanently
    # ungated. Exit 2 = "re-measure these clean before signing off";
    # --allow-excluded acknowledges a re-measure happened elsewhere.
    if bad:
        sys.exit(1)
    if steal_skip and "--allow-excluded" not in sys.argv:
        print("GATE NOT CLEAN: excluded readings above need a clean "
              "re-measure (or pass --allow-excluded with the re-measure "
              "artifact committed)")
        sys.exit(2)
    sys.exit(0)


if __name__ == "__main__":
    main()
