"""End-to-end entity resolution: block -> score -> decide -> merge.

The classical production ER pipeline over a dirtied customer table:

1. DIRTY the data deterministically: every 40th customer gains a
   near-duplicate row (one character deleted from the name, same
   nation/segment/balance) — the fat-finger double-entry regime.
2. BLOCK with the FastSS deletion-neighborhood edit-distance join
   (``operators/editdist``): candidates are an equi-join on hashed
   deletion variants — linear index, never customer x customer.
3. SCORE with Fellegi-Sunter (``operators/linkage``): per-field
   likelihood ratios with u-probabilities estimated from the data as
   exact freq^2 sums; fixed-order product; match / possible /
   non_match thresholds.
4. MERGE matches: likelihood-"match" pairs feed the large-star/
   small-star connected-components entity grouper
   (``operators/cluster``), and each entity keeps its lowest id as the
   survivor — report how many injected dups were re-found.

Run: ``python examples/record_linkage_pipeline.py [sf_dir]``
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkdiff.operators.cluster import connected_components
from sparkdiff.operators.editdist import edit_distance_join
from sparkdiff.operators.linkage import (
    LinkageField,
    fellegi_sunter_score,
    field_u_stats,
)
from sparkdiff.session import get_spark, load_table


def main(sf_dir: str) -> None:
    spark = get_spark("record-linkage-pipeline")
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    # 1. inject double entries: same entity, one name char dropped
    dirty = (
        base.filter(F.col("id") % 40 == 0)
        .withColumn("id", F.col("id") + 1_000_000)
        .withColumn(
            "c_name",
            F.concat(
                F.substring("c_name", 1, 5),
                F.col("c_name").substr(F.lit(7), F.length("c_name") - 6),
            ),
        )
    )
    customers = base.unionByName(dirty)
    n_injected = dirty.count()
    print(f"-> corpus: {customers.count()} rows ({n_injected} injected dups)")

    # 2. block — the variant explode is heavy per row, so spread the
    # in-memory frame over every core first
    cand = edit_distance_join(
        customers.select("id", "c_name").repartition(
            spark.sparkContext.defaultParallelism
        ),
        "id",
        "c_name",
        d=1,
    )
    print(f"-> blocking: {cand.count()} ed<=1 candidate pairs")

    # 3. score
    attrs = customers.withColumn(
        "balband", F.floor(F.col("cents").cast("double") / F.lit(10000.0)).cast("long")
    )
    a = attrs.select(
        F.col("id").alias("_aid"),
        *[F.col(c).alias(f"{c}_a") for c in attrs.columns if c != "id"],
    )
    b = attrs.select(
        F.col("id").alias("_bid"),
        *[F.col(c).alias(f"{c}_b") for c in attrs.columns if c != "id"],
    )
    pairs = (
        cand.join(a, cand.id_a == a._aid)
        .join(b, cand.id_b == b._bid)
        .drop("_aid", "_bid")
    )
    u = field_u_stats(attrs, ["c_nationkey", "c_mktsegment", "balband"])
    fields = [
        LinkageField(
            "nation",
            (F.col("c_nationkey_a") == F.col("c_nationkey_b")).cast("int"),
            0.95,
            "u_c_nationkey_num",
        ),
        LinkageField(
            "segment",
            (F.col("c_mktsegment_a") == F.col("c_mktsegment_b")).cast("int"),
            0.9,
            "u_c_mktsegment_num",
        ),
        LinkageField(
            "balband",
            (F.col("balband_a") == F.col("balband_b")).cast("int"),
            0.9,
            "u_balband_num",
        ),
    ]
    scored = fellegi_sunter_score(pairs, u, fields, upper=200.0, lower=1.0)
    for r in scored.groupBy("decision").count().collect():
        print(f"-> decision {r['decision']}: {r['count']} pairs")

    # 4. merge matches into entities, keep lowest id
    matches = scored.filter(F.col("decision") == "match").select("id_a", "id_b")
    comps = connected_components(matches, "id_a", "id_b")
    entities = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("members")
    )
    n_merged = entities.count()
    found = (
        matches.filter(
            (F.col("id_b") == F.col("id_a") + 1_000_000)
            & (F.col("id_a") % 40 == 0)
        ).count()
    )
    print(f"-> merged into {n_merged} multi-member entities")
    print(f"-> injected dups re-found as matches: {found}/{n_injected}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
