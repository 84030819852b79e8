"""Prove the r11 array-native pairing rewrites output-identical to the
old self-join formulations they replaced.

    python tools/r11b_pair_equiv.py <sf_dir>

For lsh_candidate_pairs, simhash_near_pairs and rare_feature_pairs
(via dedup_rare_shingle_pairs' input), builds the OLD self-join pair
formulation inline (byte-identical to the removed code) on the same
inputs and asserts set-equality of the collected results against HEAD.
For market_basket_pairs — where the array rewrite was REJECTED on
measured evidence (1.7-2.6x slower at sf1, .r11/ab_arraypairs_sf1.txt)
— the comparison arm is the rejected array PROTOTYPE, proving the
rejection was performance-based, not correctness-based. Exits nonzero
on any mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def check(name, new_rows, old_rows):
    new_s, old_s = set(new_rows), set(old_rows)
    if new_s != old_s:
        extra = list(new_s - old_s)[:5]
        missing = list(old_s - new_s)[:5]
        print(f"FAIL {name}: +{len(new_s - old_s)} -{len(old_s - new_s)} "
              f"extra={extra} missing={missing}")
        return False
    print(f"OK   {name}: {len(new_s)} rows identical")
    return True


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from healthcare_data_warehouse_spark.session import get_spark
    from healthcare_data_warehouse_spark.sources.loaders import load_table
    from healthcare_data_warehouse_spark.operators import dedup as D

    spark = get_spark("r11b-pair-equiv")
    docs = load_table(spark, sf_dir, "documents")
    ok = True

    from pyspark.sql import Window

    # --- lsh_candidate_pairs: old = capped-bucket self-join -------------
    new = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(docs).collect()}
    sig = D.minhash_signatures_df(docs, "text", "doc_id", 16)
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 D.hash52(F.concat_ws(",", *[F.col(f"h{b * 4 + r}")
                                             for r in range(4)]),
                          D.BAND_SALT).alias("band_hash"))
        for b in range(4)
    ]
    banded = (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", "bb.band", "bb.band_hash")
    )
    bucket_w = Window.partitionBy("band", "band_hash")
    banded = (
        banded.withColumn("__bucket_n", F.count("*").over(bucket_w))
        .filter(F.col("__bucket_n") <= 64)
        .drop("__bucket_n")
    )
    a, b = banded.alias("a"), banded.alias("b")
    old_df = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    old = {(r.id_a, r.id_b) for r in old_df.collect()}
    ok &= check("lsh_candidate_pairs", new, old)

    # --- simhash_near_pairs: old = within-bucket self-join -------------
    new = {(r.id_a, r.id_b, r.hamming)
           for r in D.simhash_near_pairs(docs).collect()}
    bits, max_hamming, max_bucket_size = 48, 3, 64
    chunks = max_hamming + 1
    width = bits // chunks
    mask = (1 << width) - 1
    sig = D.simhash_signatures_df(docs, "text", "doc_id", bits)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask))
            .alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("cc")
    ).select("doc_id", "simhash", "cc.chunk", "cc.chunk_val")
    bucket_w = Window.partitionBy("chunk", "chunk_val")
    banded = (
        banded.withColumn("__bucket_n", F.count("*").over(bucket_w))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .drop("__bucket_n")
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    old_df = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"), hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    old = {(r.id_a, r.id_b, r.hamming) for r in old_df.collect()}
    ok &= check("simhash_near_pairs", new, old)

    # --- rare_feature_pairs: old = within-shingle self-join ------------
    new = {(r.id_a, r.id_b, round(r.jaccard, 12))
           for r in D.rare_feature_pairs(docs).collect()}
    n, max_df = 3, 3
    from healthcare_data_warehouse_spark.operators.skew import spread
    t = spread(docs, "doc_id").select(
        F.col("doc_id"),
        F.transform(D.shingles("text", n),
                    lambda s: F.xxhash64(s)).alias("__sh"),
    ).localCheckpoint(eager=True)
    ds = t.select(F.col("doc_id"), F.explode("__sh").alias("f"))
    rare = (
        ds.groupBy("f").agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("f")
    )
    rd = ds.join(rare, "f")
    a, b = rd.alias("a"), rd.alias("b")
    pairs = (
        a.join(b, (F.col("a.f") == F.col("b.f"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = t.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sb = t.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    old_df = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                (inter.cast("double") / union).alias("jaccard"))
    )
    old = {(r.id_a, r.id_b, round(r.jaccard, 12)) for r in old_df.collect()}
    ok &= check("rare_feature_pairs", new, old)

    # --- market_basket_pairs: HEAD join form vs REJECTED array proto ---
    from healthcare_data_warehouse_spark.plans.catalog import queries
    new_rows = queries()["market_basket_pairs"](spark, sf_dir).collect()
    new = {tuple(r) for r in new_rows}
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand").distinct()
    )
    n_orders = ob.agg(F.countDistinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    basket = (
        ob.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("p_brand")).alias("__brands"))
        .filter(F.size("__brands") >= 2)
    )
    pair_structs = F.flatten(F.transform(
        F.col("__brands"),
        lambda x, i: F.transform(
            F.slice(F.col("__brands"), i + F.lit(2),
                    F.size(F.col("__brands"))),
            lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
        ),
    ))
    pairs = (
        basket.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.brand_a").alias("brand_a"),
                F.col("__p.brand_b").alias("brand_b"))
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"),
                        F.col("n_b").alias("n_a_cnt"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"),
                        F.col("n_b").alias("n_b_cnt"))
    old_df = (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a", "brand_b", "n_ab",
            ((F.col("n_ab").cast("double") * F.col("n"))
             / (F.col("n_a_cnt").cast("double") * F.col("n_b_cnt")))
            .alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(25)
    )
    old = {tuple(r) for r in old_df.collect()}
    ok &= check("market_basket_pairs", new, old)

    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
