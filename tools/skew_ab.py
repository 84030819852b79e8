"""Skew decision-tree A/B at a Zipf fixture dir (made by make_skew_data).

Reproducible driver for the matrix that calibrates operators/skew.py's
auto_join tiers — run it at .testdata/sf10skew and .testdata/sf30skew to
see whether the tier ordering (broadcast > AQE-skew-split > salting)
holds as the hot partition grows:

    python tools/skew_ab.py .testdata/sf10skew
    SPARK_GRAFT_DRIVER_MEM=48g python tools/skew_ab.py .testdata/sf30skew

Shapes probed (min-of-2, noop sink, same session):
  1. orders⋈customer  — dim fits broadcast: plain vs salted
  2. lineitem⋈orders  — fact⋈fact where skew decides plans:
     AQE skew split ON vs OFF (unhandled) vs explicit salted_join
  3. groupBy(o_custkey) — collapsing aggregate: map-side partials vs
     the explicit two-phase explode_salted_agg

Prints a markdown table plus the fixture's _skew_manifest.json hashes so
the record is pinned to exact fixture bytes (docs/RUNBOOK.md §6).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed(label, fn, n=2):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"| {label} | {best:.3f} |")
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".testdata/sf10skew"
    sf_dir = os.path.abspath(sf_dir)

    from pyspark.sql import functions as F

    from healthcare_data_warehouse_spark.operators.skew import (
        explode_salted_agg,
        salted_join,
    )
    from healthcare_data_warehouse_spark.session import get_spark
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    manifest = os.path.join(sf_dir, "_skew_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            print(f"fixture: {sf_dir}\nmanifest: "
                  f"{json.dumps(json.load(fh), sort_keys=True)}")
    else:
        print(f"fixture: {sf_dir} (NO manifest — regenerate via "
              "tools/make_skew_data.py for pinned evidence)")

    spark = get_spark("skew-ab")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def with_confs(confs, fn):
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            fn()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    nobc = {"spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}

    print("| shape | sec |\n|---|---|")

    # 1. dim join: broadcast is skew-immune; salting actively hurts
    dim_cols = ["o_orderkey", "o_custkey", "o_totalprice", "c_name"]
    timed("orders⋈customer, broadcast allowed (tier 1: plain_broadcast)",
          lambda: noop(o.join(c, o.o_custkey == c.c_custkey)
                       .select(*dim_cols)))
    timed("orders⋈customer, salted (what tier 1 avoids)",
          lambda: with_confs(nobc, lambda: noop(
              salted_join(o, c.withColumnRenamed("c_custkey", "o_custkey"),
                          on="o_custkey", salt_buckets=13)
              .select(*dim_cols))))

    # 2. fact⋈fact: neither side broadcasts; the hot order key decides
    ff_cols = ["l_orderkey", "l_extendedprice", "o_totalprice"]
    li_o = li.withColumnRenamed("l_orderkey", "o_orderkey")
    timed("lineitem⋈orders, AQE skew split ON (tier 2: plain_aqe_skewjoin)",
          lambda: with_confs(
              {**nobc, "spark.sql.adaptive.skewJoin.enabled": "true"},
              lambda: noop(li_o.join(o, "o_orderkey")
                           .select("o_orderkey", "l_extendedprice",
                                   "o_totalprice"))))
    timed("lineitem⋈orders, AQE skew split OFF (unhandled hot task)",
          lambda: with_confs(
              {**nobc, "spark.sql.adaptive.skewJoin.enabled": "false"},
              lambda: noop(li_o.join(o, "o_orderkey")
                           .select("o_orderkey", "l_extendedprice",
                                   "o_totalprice"))))
    timed("lineitem⋈orders, salted_join S=13 (tier 3, AQE-off fallback)",
          lambda: with_confs(
              {**nobc, "spark.sql.adaptive.skewJoin.enabled": "false"},
              lambda: noop(salted_join(
                  li_o, o.select("o_orderkey", "o_totalprice"),
                  on="o_orderkey", salt_buckets=13)
                  .select("o_orderkey", "l_extendedprice", "o_totalprice"))))
    assert ff_cols  # columns doc'd above; select uses renamed key

    # 3. collapsing aggregate: map-side partials absorb the hot key, so
    # the explicit salted two-phase only adds a second shuffle
    timed("groupBy(o_custkey) count+sum (plain_partial_agg)",
          lambda: noop(o.groupBy("o_custkey").agg(
              F.count("*").alias("cnt"),
              F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"))))
    timed("explode_salted_agg(o_custkey) (explicit two-phase)",
          lambda: noop(explode_salted_agg(o, "o_custkey", "o_totalprice")))

    spark.stop()


if __name__ == "__main__":
    main()
