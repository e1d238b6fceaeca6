"""Engine-internal correctness check for ``dedup_components`` at SFs
where the recursive-closure oracle is infeasible (quadratic in
component size).

Given labels L(node) and the star-edge set E the operator consumed,
four invariants together pin exactness:

1. **Edge consistency** — no edge crosses labels: for (a, b) in E,
   L(a) == L(b). (Labels are not FINER than the true components.)
2. **Label canonicality** — every component's label equals the MIN
   node id in it.
3. **Label membership** — every label value is itself a labeled node
   with L(label) == label.
4. **Coarseness** — the number of distinct labels equals the component
   count of an INDEPENDENT driver-side union-find over E. Invariants
   1-3 alone do not rule out an over-merged labeling (e.g. true
   components {5,7} and {9,10} all labeled 5 passes 1-3); 1 says the
   label partition is no finer than the truth, so equal partition
   COUNTS force a bijection — no coarser either.

Together: "L is exactly the connected-components min-labeling of E" —
and the tool additionally re-derives the expected label of EVERY node
from the union-find and compares them one by one
(``exact_label_mismatches``), so the verdict is a full independent
value-level check, not an invariant-only argument. The union-find is
trivial at star-edge scale (|E| <= |nodes|; 228k rows at sf10 —
seconds on the driver).

Usage: python tools/verify_components_invariants.py [SF_DIR]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from handyspark_spark.pipeline.dedup import (minhash_lsh_components,
                                                 minhash_lsh_star_edges)
    from handyspark_spark.sources.loader import load_table

    df = load_table(spark, sf_dir, "documents")
    labels = minhash_lsh_components(df, num_hashes=16, bands=2,
                                    max_bucket_size=500).persist()
    edges = minhash_lsh_star_edges(df, num_hashes=16, bands=2,
                                   max_bucket_size=500)

    n = labels.count()
    la = labels.withColumnRenamed("node", "id_a") \
               .withColumnRenamed("component", "ca")
    lb = labels.withColumnRenamed("node", "id_b") \
               .withColumnRenamed("component", "cb")
    cross = (edges.join(la, "id_a").join(lb, "id_b")
             .filter(F.col("ca") != F.col("cb")).count())
    bad_min = (labels.groupBy("component")
               .agg(F.min("node").alias("mn"))
               .filter(F.col("component") != F.col("mn")).count())
    bad_member = (labels.select(F.col("component").alias("node")).distinct()
                  .join(labels.filter(F.col("node") == F.col("component")),
                        "node", "left_anti").count())

    # invariant 4 + FULL value check: an independent driver-side
    # union-find over the star edges — the edge list is bounded by
    # |nodes| (each node joins its bucket's min), so both it and the
    # label table are driver-cheap even at sf10 (~228k rows). Beyond
    # the coarseness COUNT (which with invariant 1 forces a bijection),
    # this re-derives the expected min-labeling per node and compares
    # it exactly — a complete independent value-level verdict on the
    # distributed closure, not a sampled one.
    n_labels = labels.select("component").distinct().count()
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:            # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.select("id_a", "id_b").toLocalIterator():
        ra, rb = find(row["id_a"]), find(row["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # components = edge-connected roots + labeled singletons (nodes
    # with no edge label themselves)
    edge_nodes = set(parent)
    roots = {find(x) for x in edge_nodes}
    singletons = n - len(edge_nodes)
    n_uf = len(roots) + singletons
    minlab: dict = {}
    for x in edge_nodes:
        r = find(x)
        if r not in minlab or x < minlab[r]:
            minlab[r] = x
    mismatches = 0
    for row in labels.toLocalIterator():
        x, c = row["node"], row["component"]
        want = minlab[find(x)] if x in parent else x
        if c != want:
            mismatches += 1
    print(f"nodes={n} cross_label_edges={cross} "
          f"non_min_labels={bad_min} non_member_labels={bad_member} "
          f"labels={n_labels} union_find_components={n_uf} "
          f"exact_label_mismatches={mismatches}")
    ok = (cross == 0 and bad_min == 0 and bad_member == 0
          and n_labels == n_uf and mismatches == 0)
    print("PASS" if ok else "FAIL")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
