"""The star-schema model DAG, re-expressed as composable DataFrame builders.

Reference: the dbt DAG ``stg_* → dim_* → fact_visits``
(dbt_project/models/…; dependency refs at fact_visits.sql:20,54,55).
dbt materializes each model as a Postgres view/table and the optimizer
cannot see across them; here each "model" is a function returning a lazy
DataFrame, so Catalyst optimizes the WHOLE composed plan (cross-model
filter pushdown, column pruning into the scan, broadcast of the small
dims — check fact_orders(...).explain()).

Healthcare → driver-data mapping (TESTDATA.md / FIXTURES.md):
  patients  → customer   (c_custkey, c_name is the PII analog)
  providers → supplier
  visits    → orders     (o_orderdate=visit_date, o_totalprice=cost)
  visit line detail → lineitem

Scale design:
- Dims are small → they broadcast in every fact join (Catalyst auto, and
  we assert it in tests via the physical plan).
- The fact is partitioned by year of the date column on write, mirroring
  the reference's yearly RANGE partitions (init.sql:96-109) → partition
  pruning for date-filtered queries.
- Surrogate keys use operators.keys.add_dense_key (no single-task window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import AS_OF_DATE
from ..functions.expressions import anonymize, balance_bucket, valid_record, with_privacy_noise_hash
from ..operators.keys import add_dense_key
from ..sources.loaders import load_table

# ---------------------------------------------------------------------------
# Staging models (stg_patients.sql / stg_providers.sql / stg_visits.sql):
# explicit column lists + validity filters, materialized as views (lazy).
# ---------------------------------------------------------------------------


def stg_customer(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Cleansed customer staging view (analog of stg_patients.sql:4-25)."""
    return (
        load_table(spark, sf_dir, "customer")
        .withColumn("valid_record", valid_record("c_custkey", "c_name", "c_mktsegment"))
        .filter(F.col("valid_record"))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


def stg_supplier(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Cleansed supplier staging view (analog of stg_providers.sql:4-18)."""
    return (
        load_table(spark, sf_dir, "supplier")
        .filter(valid_record("s_suppkey", "s_name"))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


def stg_orders(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Cleansed orders staging view (analog of stg_visits.sql:4-23).

    Includes the temporal-sanity predicate (no dates after the as-of day,
    stg_visits.sql:23) — parameterized, not current_date(), for oracle
    determinism.
    """
    return (
        load_table(spark, sf_dir, "orders")
        .filter(valid_record("o_orderkey", "o_custkey", "o_orderdate"))
        .filter(F.col("o_orderdate").cast("date") <= F.lit(AS_OF_DATE).cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Dimension models (dim_patients.sql / dim_providers.sql): anonymized PII,
# derived buckets, SCD2 columns, dense surrogate keys.
# The PII projection is semantic, not just perf: raw c_name never leaves
# this builder (reference invariant: dim_patients.sql:10-17 omits
# phone/email/address present in init.sql:16-18).
# ---------------------------------------------------------------------------


def dim_customer(spark: SparkSession, sf_dir: str | None = None,
                 pins: list[DataFrame] | None = None) -> DataFrame:
    """Customer dimension (analog of dim_patients.sql:34-45). ``pins``
    collects the key build's persist (``operators.keys.add_dense_key``)."""
    stg = stg_customer(spark, sf_dir)
    dim = stg.select(
        F.col("c_custkey"),
        anonymize("c_name").alias("anonymized_name"),
        balance_bucket("c_acctbal").alias("balance_group"),
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.lit(AS_OF_DATE).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return add_dense_key(dim, ["c_custkey"], key_col="customer_key", pins=pins)


def dim_supplier(spark: SparkSession, sf_dir: str | None = None,
                 pins: list[DataFrame] | None = None) -> DataFrame:
    """Supplier dimension (analog of dim_providers.sql:32-42). ``pins``
    as in :func:`dim_customer`."""
    stg = stg_supplier(spark, sf_dir)
    dim = stg.select(
        F.col("s_suppkey"),
        F.col("s_name"),
        F.col("s_nationkey"),
        F.lit(AS_OF_DATE).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return add_dense_key(dim, ["s_suppkey"], key_col="supplier_key", pins=pins)


# ---------------------------------------------------------------------------
# Fact model (fact_visits.sql): key-resolution broadcast joins + DP noise +
# date-derived partition column.
# ---------------------------------------------------------------------------


def fact_orders(spark: SparkSession, sf_dir: str | None = None,
                dim_c: DataFrame | None = None,
                pins: list[DataFrame] | None = None) -> DataFrame:
    """Order fact with resolved surrogate keys and DP-noised measure.

    Analog of fact_visits.sql:29-66: join the staging fact to the dims on
    natural keys (no forced broadcast — the customer dim grows with the
    data, so the join strategy is left to Catalyst/AQE: broadcast while it
    fits ``autoBroadcastJoinThreshold``, shuffle join beyond — mirroring
    Postgres picking the strategy from stats), attach
    ``cost_with_privacy`` (Laplace, fact_visits.sql:40-51), derive the
    partition column, and mint dense fact keys ordered by
    (o_orderdate, o_orderkey) — the reference's ORDER BY visit_date,
    visit_id (fact_visits.sql:64). ``pins`` collects the key builds'
    persists (see :func:`dim_customer`).
    """
    o = stg_orders(spark, sf_dir)
    c = dim_c if dim_c is not None else dim_customer(spark, sf_dir, pins=pins)
    ckeys = c.select("customer_key", "c_custkey")
    fact = (
        o.join(ckeys, o["o_custkey"] == ckeys["c_custkey"], "inner")
        .drop("c_custkey")
        .withColumn("cost_with_privacy", with_privacy_noise_hash("o_totalprice", "o_orderkey"))
        .withColumn("order_year", F.year("o_orderdate"))
    )
    fact = add_dense_key(fact, ["o_orderdate", "o_orderkey"], key_col="order_key",
                         pins=pins)
    # Enforced (not just conventional) PII invariant: the ETL builders
    # are LICENSED to scan c_name (staging's validity filter checks it,
    # the dim hashes it) but the fact's OUTPUT must not carry it — a
    # future edit that threads a raw PII column through fails here, at
    # build time, instead of silently shipping it downstream. Gold and
    # serving plans get the stricter scan-level check
    # (plans/gold.py materialize_gold's pre-pass).
    from ..operators.pii_guard import DEFAULT_PII, PIILeakError
    leaked_out = set(fact.columns) & set(DEFAULT_PII)
    if leaked_out:
        raise PIILeakError(
            f"fact output carries raw PII columns {sorted(leaked_out)}")
    return fact


def write_fact_partitioned(fact: DataFrame, path: str) -> None:
    """Persist the fact partitioned by year (init.sql:96-109 analog).

    Date-filtered queries then hit partition pruning; at 100 TB you'd use
    month grain + a sort within partitions on the join key.
    """
    fact.write.mode("overwrite").partitionBy("order_year").parquet(path)
