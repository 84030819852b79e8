"""Query catalog: every operator from SURVEY.md §2 as a named query with a
DuckDB oracle.

Each entry is a function ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are ANSI-SQL-expressible) an oracle SQL string the driver runs in
DuckDB over the same parquet tables. The driver compares row-count + schema
+ order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double sums/averages go through the DECIMAL(18,4) accumulate-then-cast
  trick (functions.expressions.dsum/davg) so the distributed result is
  bit-identical to the single-threaded oracle;
- time is fixed (config.AS_OF_DATE), never current_date().

Healthcare → driver-table mapping (FIXTURES.md): customer=patients,
supplier=providers, orders=visits (o_orderdate=visit_date,
o_totalprice=cost, o_orderpriority=diagnosis-analog), lineitem=visit
detail, events=audit/stream analog.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import AS_OF_DATE, K_ANONYMITY, L_DIVERSITY
from ..functions.expressions import (
    _oround,
    age_bucket,
    age_years,
    anonymize,
    balance_bucket,
    davg,
    dec_sum,
    dsum,
    round2,
    ohash52,
    olaplace_noise,
    visit_cohort,
    with_privacy_noise_hash,
)
from ..operators.keys import add_dense_key
from ..sources.loaders import load_table, register_views, source_fingerprint

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogEntry:
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible, driver does rows-only check
    # Tolerance-mode oracle for entries whose values are CORRECT but not
    # hash-matchable: libm-dependent features (ulp drift vs DuckDB's
    # libm), and repo sketches compared against their EXACT ground truth
    # within the sketch's error band. NOT exported through oracle_sql()
    # (the driver hash-compares); the local gate (tools/oracle_check.py)
    # runs soft_oracle and checks every numeric column within
    # rel_tolerance (strings/ints must match exactly after sorting).
    soft_oracle: str | None = None
    rel_tolerance: float = 0.0
    # Recall-band oracle for APPROXIMATE neighbor queries (IVF/PQ/LSH):
    # results are correct-by-contract when they recover >= recall_floor
    # of the EXACT ground truth, not when they hash-match it. The local
    # gate runs recall_oracle (brute-force SQL top-k) in DuckDB, projects
    # both sides to recall_cols, and requires
    # |spark ∩ truth| / |truth| >= recall_floor — the floor is pinned
    # from measured recall (tools/ann_quality.py), not aspiration. Never
    # exported through oracle_sql() (the driver hash-compares).
    recall_oracle: str | None = None
    recall_floor: float = 0.0
    recall_cols: tuple[str, ...] = ()
    # Containment-band oracle for FLAG-SELECTING model queries (classifier
    # positives, anomaly flags) whose full per-row output is not SQL-
    # replayable (seeded MLlib / tree-ensemble fits) but whose SELECTED
    # subset has a SQL-checkable quality contract: the rows matching
    # containment_filter, projected to containment_cols, must sit inside
    # the SQL-derived superset (actual labels, robust-outlier top
    # fraction) at precision >= containment_floor — |flag ∩ truth| /
    # |flag|. The floor is pinned from measured precision at both gate
    # SFs, not aspiration. Never exported through oracle_sql() (the
    # driver hash-compares); the local gate runs it.
    containment_oracle: str | None = None
    containment_floor: float = 0.0
    containment_cols: tuple[str, ...] = ()
    containment_filter: str | None = None  # pandas .query() over the result
    # Band oracle for FIT-OUTPUT queries (model eval rows, cluster
    # profiles) where the output IS the fit and no subset/recall contract
    # applies, but algebraic identities against SQL-derived reference
    # values DO: band_oracle is DuckDB SQL producing ONE row of named
    # reference values; band_check(spark_pdf, band_row) returns a list of
    # violation strings (empty = pass). Checks are identities (sizes sum
    # to the population, weighted segment means recombine to the global
    # mean, exact split counts) plus pinned quality floors — data-level
    # assertions in the gate, not just pytest. Never exported through
    # oracle_sql() (the driver hash-compares); the local gate runs it.
    band_oracle: str | None = None
    band_check: "object | None" = None  # Callable[[pd.DataFrame, pd.Series], list[str]]


_REGISTRY: dict[str, CatalogEntry] = {}


def query(name: str, oracle: str | None = None,
          soft_oracle: str | None = None, rel_tolerance: float = 0.0,
          recall_oracle: str | None = None, recall_floor: float = 0.0,
          recall_cols: tuple[str, ...] = (),
          containment_oracle: str | None = None,
          containment_floor: float = 0.0,
          containment_cols: tuple[str, ...] = (),
          containment_filter: str | None = None,
          band_oracle: str | None = None,
          band_check=None):
    # A band oracle is only checkable with its paired verifier — a lone
    # band_oracle would TypeError deep inside the gate (None not
    # callable) instead of failing loud at definition time.
    if (band_oracle is None) != (band_check is None):
        raise ValueError(
            f"query({name!r}): band_oracle and band_check must be "
            "provided together")

    def deco(fn: QueryFn) -> QueryFn:
        import functools

        from .. import decisions

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            # scope plan-regime decision recording to this query name so
            # size-gated operators (staged joins, skew cutovers) can log
            # WHICH regime they chose — see decisions.py
            token = decisions.set_current_query(name)
            try:
                return fn(*args, **kwargs)
            finally:
                decisions.reset_current_query(token)

        _REGISTRY[name] = CatalogEntry(fn=wrapped, oracle=oracle,
                                       soft_oracle=soft_oracle,
                                       rel_tolerance=rel_tolerance,
                                       recall_oracle=recall_oracle,
                                       recall_floor=recall_floor,
                                       recall_cols=tuple(recall_cols),
                                       containment_oracle=containment_oracle,
                                       containment_floor=containment_floor,
                                       containment_cols=tuple(containment_cols),
                                       containment_filter=containment_filter,
                                       band_oracle=band_oracle,
                                       band_check=band_check)
        return fn
    return deco


# ---------------------------------------------------------------------------
# Driver-visible window: the external correctness gate hash-checks the
# FIRST 50 entries of queries(), so the leading slots are curated rather
# than left to definition order — SURVEY §2 core shapes first, then the
# LLM-data-pipeline flagships (text metrics, dedup family, corpus
# curation, streaming), so the external gate certifies the
# beyond-reference operators too. Every name here has a DuckDB oracle
# (hash-checkable); the `_native` builtin-sketch variants and redundant
# source/audit extras sit past the window where the full local gate
# (tools/oracle_check.py, all 227) still covers them. Entries NOT listed
# keep their definition order after the window.
# ---------------------------------------------------------------------------
DRIVER_WINDOW: tuple[str, ...] = (
    # §2 scans/filters/joins/aggregates/windows (Q1-Q17 core)
    "project_filter", "filter_date_range",
    "join_fact_dims", "join_3way", "leftjoin_agg",
    "agg_by_agegroup",
    "agg_composite_key",
    "agg_having", "agg_monthly_trend",
    "window_rownumber_keys", "window_patient_features",
    "fn_readmission_label", "topk_diagnoses",
    "union_dq_report",
    # §2 functions / privacy
    "fn_laplace_noise", "privacy_k_anon", "privacy_t_close",
    # §2 sources/sinks + repo-owned oracled sketches
    "audited_read",
    "approx_count_distinct_segments",
    # LLM-pipeline flagships: text metrics
    "text_tokens",
    # LLM-pipeline flagships: dedup / curation / streaming
    "dedup_minhash_lsh", "dedup_substring_spans",
    "dedup_embedding_cosine", "corpus_clean",
    # round-5 flagships rotated in for external certification (r6):
    "join_3way_bucketed", "dedup_embedding_topk", "knn_join_exact",
    "stream_simhash_band_registry", "decontamination_semantic",
    # round-7 rotation (r6 verdict item 4): five strong local-only
    # queries get external certification — transformWithStateInPandas
    # (stream_user_profiles_v2), iterative graph (graph_pagerank), BPE
    # vocab learning (vocab_bpe_merges), CDC MERGE (merge_orders_cdc),
    # dynamic partition pruning (scan_partitioned_dpp); all hard
    # DuckDB-oracled. Rotated OUT (driver-green six rounds running,
    # re-verified local-pass): point_lookup (P6 — a degenerate filter;
    # project_filter/filter_date_range stay), crossjoin_scalar (J4 —
    # scalar_subquery stays for the scalar-join family),
    # agg_count_distinct (A3 — approx_count_distinct_segments stays on
    # the same row), scan_csv (S1/S2 — scan_table stays), and
    # fn_sha2_anonymize (F1 — fn_laplace_noise keeps F4/F9 expression
    # coverage). All five remain in the full local gate.
    "stream_user_profiles_v2", "graph_pagerank", "vocab_bpe_merges",
    "merge_orders_cdc", "scan_partitioned_dpp",
    # round-8 rotation (r7 verdict item 3): external certification for
    # the TPC-H analytics flagships that headline the bench but had only
    # local-gate coverage — market_share_by_year (Q8 8-table shape),
    # late_supplier_ranking (Q21 exists/not-exists), regional_nation_
    # revenue (Q5), bilateral_trade_volume (Q7), returns_revenue_topk
    # (Q10). All hard DuckDB-oracled. Rotated OUT (driver-green 6-7
    # rounds, all overlap-covered and still in the full local gate):
    # topk_highcost (P5/O2 — topk_diagnoses stays; returns_revenue_topk
    # coming IN is itself a theta-filtered top-k), window_pct_of_total
    # (W1 — three raw-data windows stay; market_share_by_year is a
    # share-of-total shape), privacy_l_div (A9 — privacy_k_anon stays on
    # the same §2 row), text_langid (text_tokens/text_quality keep the
    # trio's row), dedup_exact (four near-dup family members stay).
    "market_share_by_year", "late_supplier_ranking",
    "regional_nation_revenue", "bilateral_trade_volume",
    "returns_revenue_topk",
    # round-9 rotation (r8 verdict item 4): external certification for
    # the remaining TPC-H analytics flagships, all hard DuckDB-oracled
    # and local-gate-green since round 2 — min_cost_supplier (Q2
    # argmin-in-aggregate), excess_qty_suppliers (Q20 semi-join chain),
    # promo_disjunctive_revenue (Q19 OR-of-ANDs pushdown),
    # inactive_rich_customers (Q22 anti-join + scalar subquery),
    # nation_profit_by_year (Q9 6-table profit rollup). Rotated OUT
    # (driver-green 6-8 rounds, every one overlap-covered and still in
    # the full local gate): window_lead_nextvisit (W4 —
    # fn_readmission_label stays on the same LEAD+date-arith shape),
    # text_quality (text_tokens keeps the text-metrics row),
    # stream_hourly_agg (stream_user_profiles_v2 +
    # stream_simhash_band_registry keep streaming certified),
    # upsert_dedup (S4 — merge_orders_cdc stays for the upsert/MERGE
    # sink family), scan_table (S3 — scan_partitioned_dpp stays for the
    # catalog-scan family).
    "min_cost_supplier", "excess_qty_suppliers",
    "promo_disjunctive_revenue", "inactive_rich_customers",
    "nation_profit_by_year",
    # round-10 rotation (r9 verdict item 5): external certification for
    # never-driver-seen strong locals — join_asof +
    # attribution_last_touch (the as-of/temporal-join family,
    # operators/temporal.py, never externally certified),
    # scan_jsonl + scan_orc (beyond-reference source formats),
    # skew_salted_join (the salted-replication join the skew decision
    # tree falls back to when AQE is off), and highcost_above_p90 (the
    # Q7 percentile-CTE flagship). All hard DuckDB-oracled. Rotated OUT
    # (driver-green 6-9 rounds, each overlap-covered and still in the
    # full local gate): percentile_p90 (A6 — highcost_above_p90 coming
    # IN is the same exact-percentile shape inside a CTE),
    # scalar_subquery + antijoin_incremental (J5/J6 —
    # inactive_rich_customers stays: Q22 IS an anti-join against a
    # scalar-subquery threshold), agg_global_kpis (A4/A7 —
    # agg_by_agegroup's multi-agg and Q22's scalar AVG keep the rows),
    # case_visit_cohorts (F10 — promo_disjunctive_revenue stays on the
    # same CASE/OR-of-ANDs row), privacy_noise_impact (F8 —
    # fn_laplace_noise keeps the F4/F8/F9 noise-expression family).
    "join_asof", "attribution_last_touch", "scan_jsonl", "scan_orc",
    "skew_salted_join", "highcost_above_p90",
)


def _ordered_registry() -> dict[str, CatalogEntry]:
    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:  # fail loud: a typo here silently un-certifies an operator
        raise KeyError(f"DRIVER_WINDOW names not in registry: {missing}")
    out = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    out.update((n, e) for n, e in _REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in _ordered_registry().items()
            if e.oracle is not None}


# Oracle SQL fragments for the deterministic double aggregates -------------

def _osum(x: str) -> str:
    """Oracle-side equivalent of functions.expressions.dsum."""
    return f"CAST(sum(CAST({x} AS DECIMAL(18,4))) AS DOUBLE)"


def _oavg(x: str) -> str:
    """Oracle-side equivalent of functions.expressions.davg (unrounded)."""
    return f"{_osum(x)} / count({x})"


# Line revenue, as the SQL text ``dsum``/``dec_sum`` take.
_REVENUE = "l_extendedprice * (1 - l_discount)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _derived_artifact(sf_dir: str, table: str, kind: str,
                      build: Callable[[str], object]) -> str:
    """Path of the temp-dir artifact (ANN index, tokenizer merges,
    rollup) derived from ``table``: built once per source CONTENT and
    then served. The name folds the table's ``source_fingerprint``
    (file sizes + mtimes) into its tag, so regenerating the fixture in
    place gets a fresh build instead of the previous corpus's artifact.
    ``build(dir)`` writes a candidate under a pid- and thread-suffixed
    path, and one ``os.rename`` claims the final name: a concurrent
    builder (a bench run and an oracle check, or two server threads)
    that loses the race discards its build and reads the winner's, and
    no reader ever sees a half-written artifact."""
    import hashlib
    import os
    import shutil
    import tempfile
    import threading

    ident = f"{os.path.abspath(sf_dir)}|{source_fingerprint(sf_dir, (table,))}"
    tag = hashlib.md5(ident.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"hdw_{kind}_{tag}")
    if not os.path.exists(path):
        build_dir = f"{path}.build{os.getpid()}.{threading.get_ident()}"
        build(build_dir)
        try:
            os.rename(build_dir, path)
        except OSError:  # another builder claimed the name first
            shutil.rmtree(build_dir, ignore_errors=True)
    return path


# ===========================================================================
# §2.2 Projections / filters
# ===========================================================================


@query(
    "project_filter",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL AND c_acctbal > 0
    """,
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P4: explicit projection + conjunctive validity predicates
    (stg_patients.sql:6-25)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_acctbal").isNotNull() & F.col("c_mktsegment").isNotNull() & (F.col("c_acctbal") > 0)
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "filter_date_range",
    oracle=f"""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS visit_date, o_totalprice
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) <= DATE '1998-12-31'
      AND CAST(o_orderdate AS DATE) <= DATE '{AS_OF_DATE}'
    """,
)
def filter_date_range(spark: SparkSession, sf_dir: str, *,
                      date_from: str = "1997-01-01",
                      date_to: str = "1998-12-31") -> DataFrame:
    """P3: temporal-sanity + range predicate on the date column
    (stg_visits.sql:23). Partition-prunable when the fact is written
    partitioned by year. The range endpoints are typed parameters
    (serving.PARAM_SPECS) — bound as date literals, never string-spliced
    SQL (unlike query_builder.py:68's str.format)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.filter((d >= F.lit(date_from).cast("date"))
                 & (d <= F.lit(date_to).cast("date"))
                 & (d <= F.lit(AS_OF_DATE).cast("date")))
        .select("o_orderkey", d.alias("visit_date"), "o_totalprice")
    )


@query(
    "point_lookup",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 42",
)
def point_lookup(spark: SparkSession, sf_dir: str, *,
                 patient_key: int = 42) -> DataFrame:
    """P6: equality filter on the key (api.py:318) — min-max row-group
    skipping stands in for the reference's B-tree index. ``patient_key``
    is a typed parameter (int-validated by the serving layer)."""
    return _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == int(patient_key))


@query(
    "topk_highcost",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS visit_date
    FROM orders
    WHERE o_totalprice > 400000
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def topk_highcost(spark: SparkSession, sf_dir: str, *,
                  cost_threshold: float = 400000.0, k: int = 20) -> DataFrame:
    """P5+O2: theta filter on the measure + top-k
    (analytics_examples.sql:100-102, query_builder.py:133's
    {cost_threshold} — here a typed float parameter, not str.format).
    orderBy+limit compiles to TakeOrderedAndProject — no global sort.
    Tiebreak on the key keeps the result set deterministic for the
    oracle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > float(cost_threshold))
        .select("o_orderkey", "o_custkey", "o_totalprice",
                F.col("o_orderdate").cast("date").alias("visit_date"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(int(k))
    )


# ===========================================================================
# §2.3 Joins
# ===========================================================================


@query(
    "join_fact_dims",
    oracle="""
    SELECT l_orderkey, l_linenumber, s_name, p_brand, l_extendedprice
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity > 45
    """,
)
def join_fact_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact→dim key-resolution joins (fact_visits.sql:53-55). No forced
    broadcast: supplier/part grow with scale factor, so Catalyst/AQE picks
    BroadcastHashJoin while they fit the threshold and falls back to a
    shuffle join at 100× — the stats-driven behavior Postgres has."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "l_linenumber", "s_name", "p_brand", "l_extendedprice")
    )


@query(
    "join_3way",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS order_line_count,
           {_osum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_mktsegment
    """,
)
def join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 3-way analytic join (analytics_examples.sql:96-98) + revenue
    aggregate, with a size-gated physical strategy. The plan depends on
    the input's size alone, never on what an earlier run left in the
    warehouse; the bucketed-layout plan is its own query id
    (``join_3way_bucketed``).

    TWO stamped regimes (decisions.py → bench `regimes` block):

    - ``direct`` — below STAGED_JOIN_CUTOVER_BYTES the direct
      join-then-aggregate plan wins: the dims broadcast (no hint —
      Catalyst/AQE decide from stats, tests/test_plan_shapes.py pins
      both regimes) and lineitem never shuffles.
    - ``staged`` — above it the dims outgrow broadcast, so every
      surviving byte rides a shuffle — there the staged
      aggregate-below-join plan pre-reduces lineitem to one row per
      order key BEFORE its first shuffle (~4 lines/order), then
      re-reduces to one row per customer before the customer join:
      measured at sf30 (180M lineitem) the shuffle drops 5.5 GB/409M
      records → 2.2 GB/134M and wall 52.6 s → 29.2 s.

    Bit-parity across paths: counts re-sum as int64 and revenue
    accumulates in decimal at every stage (cast to double exactly once,
    at the end), so sums-of-sums equal the one-shot dsum — pinned by
    tests/test_adaptive_plans.py against the oracle either way."""
    from .. import decisions
    from ..config import STAGED_JOIN_CUTOVER_BYTES
    from ..operators.skew import relation_size_bytes

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    li_bytes = relation_size_bytes(li)
    decisions.record(
        plan="direct" if li_bytes <= STAGED_JOIN_CUTOVER_BYTES else "staged",
        relation_size_bytes=li_bytes,
        cutover_bytes=STAGED_JOIN_CUTOVER_BYTES,
    )
    if li_bytes <= STAGED_JOIN_CUTOVER_BYTES:
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("order_line_count"),
                dsum(_REVENUE).alias("revenue"),
            )
        )
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("__cnt"), dec_sum(_REVENUE).alias("__rev"))
    per_cust = (
        per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum("__cnt").alias("__cnt"), F.sum("__rev").alias("__rev"))
    )
    return (
        per_cust.join(c, per_cust["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.sum("__cnt").alias("order_line_count"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


@query(
    "join_3way_bucketed",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS order_line_count,
           {_osum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_mktsegment
    """,
)
def join_3way_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 on the bucketed-fact layout: same result as ``join_3way``, but
    lineitem⋈orders runs with ZERO exchange — both sides are materialized
    bucketed+sorted on the order key at ingest
    (sources/bucketing.py ensure_order_bucketed_layout), so the big join
    is a SortMergeJoin over co-bucketed pre-sorted files (no Exchange,
    no Sort below the join; pinned in tests/test_plan_shapes.py). The
    only data-scale shuffle left is the per-customer partial aggregate
    (map-side combine reduces each task to its distinct customers before
    the exchange), then a customers-sized join + 5-row reduce.

    vs the staged plan (join_3way above cutover): staged pays one
    fact-wide shuffle to pre-reduce per order; bucketing moves that
    shuffle to INGEST (paid once, amortized over every order-grained
    query) — the classic layout-for-compute trade. Bit parity discipline
    matches the staged path: decimal accumulation at every stage, one
    double cast at the end, so the gate hash-matches the same oracle.

    This id builds the layout if absent, or attaches the files an
    earlier run left (the explicit ingest-investment entry point).
    """
    from .. import decisions
    from ..sources.bucketing import ensure_order_bucketed_layout

    li_t, ord_t = ensure_order_bucketed_layout(spark, sf_dir)
    decisions.record(plan="bucketed", tables=[li_t, ord_t])
    li, o = spark.table(li_t), spark.table(ord_t)
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.count("*").alias("__cnt"), dec_sum(_REVENUE).alias("__rev"))
    )
    return (
        per_cust.join(c, per_cust["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.sum("__cnt").alias("order_line_count"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


@query(
    "order_size_histogram",
    oracle="""
    SELECT lines_per_order, count(*) AS order_count
    FROM (SELECT l_orderkey, count(*) AS lines_per_order
          FROM lineitem GROUP BY l_orderkey)
    GROUP BY lines_per_order
    """,
)
def order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order distribution (the order-size profile a capacity
    planner reads) — the SECOND consumer of the bucketed order layout,
    demonstrating the amortization claim: the per-order count runs as a
    bucket-local HashAggregate with ZERO exchange (the scan is already
    hash-distributed on l_orderkey), so the only shuffle is the ~7-row
    histogram reduce. Without the layout this query pays a full
    fact-wide shuffle on l_orderkey — the exact shuffle the ingest-time
    bucketed write amortizes across every order-grained query
    (join_3way_bucketed is the first consumer). Plan pinned in
    tests/test_plan_shapes.py."""
    from ..sources.bucketing import ensure_order_bucketed_layout

    li_t, _ = ensure_order_bucketed_layout(spark, sf_dir)
    li = spark.table(li_t)
    return (
        li.groupBy("l_orderkey").agg(F.count("*").alias("lines_per_order"))
        .groupBy("lines_per_order").agg(F.count("*").alias("order_count"))
    )


@query(
    "leftjoin_agg",
    oracle=f"""
    SELECT n_name,
           count(c_custkey) AS customer_count,
           {_oround(_oavg('c_acctbal'))} AS avg_balance
    FROM nation
    LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def leftjoin_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: dim-preserving left join so empty groups still appear
    (analytics_examples.sql:15,41)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, n["n_nationkey"] == c["c_nationkey"], "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("customer_count"),
            round2(davg("c_acctbal")).alias("avg_balance"),
        )
    )


@query(
    "crossjoin_scalar",
    oracle=f"""
    SELECT o_orderkey, o_totalprice, floor(s.avg_price * 100 + 0.5) / 100 AS avg_price
    FROM orders, (SELECT {_oavg('o_totalprice')} AS avg_price FROM orders) s
    WHERE o_totalprice > 2 * s.avg_price
    """,
)
def crossjoin_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: attach a 1-row aggregate to every row via cross join
    (fact_visits.sql:76, analytics_examples.sql:99) —
    BroadcastNestedLoopJoin with a single-row build side."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(davg("o_totalprice").alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(stats))
        .filter(F.col("o_totalprice") > 2 * F.col("avg_price"))
        .select("o_orderkey", "o_totalprice", round2(F.col("avg_price")).alias("avg_price"))
    )


@query(
    "antijoin_incremental",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
)
def antijoin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: NOT EXISTS → left_anti join, the reference's incremental-load
    dedup (dim_patients.sql:20-26)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


_KPI_SQL = f"""
    SELECT (SELECT count(*) FROM orders) AS total_visits,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS total_patients,
           (SELECT count(*) FROM supplier) AS total_providers,
           (SELECT {_oround(_oavg('o_totalprice'))} FROM orders) AS avg_cost
"""


@query("scalar_subquery", oracle=_KPI_SQL)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 / Q13: the KPI card block of scalar subqueries (api.py:208-214),
    run through Spark SQL so RewriteCorrelatedScalarSubquery handles it."""
    register_views(spark, sf_dir)
    return spark.sql(_KPI_SQL)


# ===========================================================================
# §2.4 Aggregations
# ===========================================================================


@query(
    "agg_by_agegroup",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal IS NULL THEN 'Unknown'
                    WHEN c_acctbal < 0 THEN 'Negative'
                    WHEN c_acctbal < 2000 THEN 'Low'
                    WHEN c_acctbal < 5000 THEN 'Medium'
                    WHEN c_acctbal < 8000 THEN 'High'
                    ELSE 'Top' END AS balance_group
        FROM customer)
    SELECT balance_group,
           count(o_orderkey) AS visit_count,
           count(DISTINCT c_custkey) AS patient_count,
           floor(CAST(count(o_orderkey) AS DOUBLE) / count(DISTINCT c_custkey) * 100 + 0.5) / 100
               AS avg_visits_per_patient,
           {_oround(_oavg('o_totalprice'))} AS avg_cost
    FROM cust LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY balance_group
    """,
)
def agg_by_agegroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 flagship (README.md:264-275): avg visits per age-group analog.
    A1 multi-aggregate + A3 countDistinct + J3 left join + F13 ratio."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", balance_bucket("c_acctbal").alias("balance_group")
    )
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("balance_group")
        .agg(
            F.count("o_orderkey").alias("visit_count"),
            F.countDistinct("c_custkey").alias("patient_count"),
            round2(F.count("o_orderkey").cast("double") / F.countDistinct("c_custkey")).alias("avg_visits_per_patient"),
            round2(davg("o_totalprice")).alias("avg_cost"),
        )
    )


@query(
    "agg_composite_key",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           {_osum('o_totalprice')} AS total_cost
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def agg_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: composite-key group-by (analytics_examples.sql:134-143)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_cost")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS customer_count,
           count(DISTINCT c_nationkey) AS nation_count
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: COUNT DISTINCT per group (analytics_examples.sql:10). At 100 TB
    the approx variant is approx_distinct_segments below."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("customer_count"),
        F.countDistinct("c_nationkey").alias("nation_count"),
    )


@query(
    "agg_global_kpis",
    oracle=f"""
    SELECT count(*) AS total_items,
           {_osum('l_quantity')} AS sum_qty,
           {_oround(_oavg('l_extendedprice'))} AS avg_price,
           CAST(min(l_shipdate) AS DATE) AS first_ship,
           CAST(max(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    """,
)
def agg_global_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A7: global no-group KPI aggregate (dashboard_kpis.sql:6-19) —
    partial aggregation map-side, single-row result."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_items"),
        dsum("l_quantity").alias("sum_qty"),
        round2(davg("l_extendedprice")).alias("avg_price"),
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT p_brand, count(*) AS cnt
    FROM part
    GROUP BY p_brand
    HAVING count(*) >= 5
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: post-aggregation filter (analytics_examples.sql:142)."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 5)


@query(
    "agg_monthly_trend",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           count(*) AS visit_count,
           {_osum('o_totalprice')} AS total_cost,
           {_oround(_oavg('o_totalprice'))} AS avg_cost
    FROM orders
    GROUP BY 1
    """,
)
def agg_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+F5: month-bucketed trend (analytics_examples.sql:45-55)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("visit_count"),
            dsum("o_totalprice").alias("total_cost"),
            round2(davg("o_totalprice")).alias("avg_cost"),
        )
    )


@query(
    "percentile_p90",
    oracle="""
    SELECT o_orderstatus,
           floor(quantile_cont(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90_cost,
           floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS median_cost
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def percentile_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact interpolated percentile (PERCENTILE_CONT,
    analytics_examples.sql:83-86). Spark's `percentile` matches DuckDB's
    quantile_cont linear interpolation."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        round2(F.percentile("o_totalprice", F.lit(0.9))).alias("p90_cost"),
        round2(F.percentile("o_totalprice", F.lit(0.5))).alias("median_cost"),
    )


# ===========================================================================
# §2.5 Window functions
# ===========================================================================


@query(
    "window_pct_of_total",
    oracle="""
    WITH g AS (SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, cnt,
           floor(CAST(cnt AS DOUBLE) * 100 / sum(cnt) OVER () * 100 + 0.5) / 100 AS pct
    FROM g
    """,
)
def window_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: pct-of-total over an empty partition spec
    (analytics_examples.sql:24). The window input is the already-aggregated
    tiny result, so the single-partition window is safe at any scale."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy()
    return g.select(
        "o_orderpriority",
        "cnt",
        round2(F.col("cnt").cast("double") * 100 / F.sum("cnt").over(w)).alias("pct"),
    )


@query(
    "window_rownumber_keys",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
           c_custkey,
           sha256(c_name) AS anonymized_name
    FROM customer
    """,
)
def window_rownumber_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: dense surrogate keys. NOT row_number over a global window (one
    task at 100 TB) — the two-phase range-partitioned equivalent in
    operators.keys, bit-identical to ROW_NUMBER() OVER (ORDER BY key)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", anonymize("c_name").alias("anonymized_name")
    )
    keyed = add_dense_key(c, ["c_custkey"], key_col="customer_key")
    return keyed.select("customer_key", "c_custkey", "anonymized_name")


@query(
    "window_patient_features",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           count(*) OVER w AS visit_count,
           floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                 / count(*) OVER w * 100 + 0.5) / 100 AS avg_cost,
           CAST(min(o_orderdate) OVER w AS DATE) AS first_visit,
           CAST(max(o_orderdate) OVER w AS DATE) AS last_visit
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey)
    """,
)
def window_patient_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: per-patient analytic aggregates on every row
    (ml_pipeline.py:65-68). Partitioned window — parallel by key. The
    count is selected once and divided above the window: Spark plans one
    window function per reference, so ``count(*) over w`` named twice is
    counted twice."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("visit_count"),
        dsum("o_totalprice", over=w).alias("__sum"),
        F.min(F.col("o_orderdate").cast("date")).over(w).alias("first_visit"),
        F.max(F.col("o_orderdate").cast("date")).over(w).alias("last_visit"),
    ).select(
        "o_custkey",
        "o_orderkey",
        "visit_count",
        round2(F.col("__sum") / F.col("visit_count")).alias("avg_cost"),
        "first_visit",
        "last_visit",
    )


@query(
    "window_lead_nextvisit",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS visit_date,
           CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS DATE)
               AS next_visit_date
    FROM orders
    """,
)
def window_lead_nextvisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: next visit per patient via LEAD (ml_pipeline.py:87-88).
    Tiebreak on the key so ordering is total."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("visit_date"),
        F.lead("o_orderdate").over(w).cast("date").alias("next_visit_date"),
    )


@query(
    "fn_readmission_label",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS DATE)) <= 30
                 THEN 1 ELSE 0 END AS INTEGER) AS readmitted_30d
    FROM orders
    """,
)
def fn_readmission_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: 30-day readmission label — datediff to the LEAD date
    (ml_pipeline.py:88-89)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w).cast("date")
    cur = F.col("o_orderdate").cast("date")
    label = F.when(F.datediff(nxt, cur) <= 30, 1).otherwise(0).cast("int")
    return o.select("o_custkey", "o_orderkey", label.alias("readmitted_30d"))


# ===========================================================================
# §2.6 Sorts / top-k   §2.7 Set ops
# ===========================================================================


@query(
    "topk_diagnoses",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, cnt,
           floor(CAST(cnt AS DOUBLE) * 100 / sum(cnt) OVER () * 100 + 0.5) / 100 AS pct
    FROM g
    ORDER BY cnt DESC, l_returnflag, l_linestatus
    LIMIT 3
    """,
)
def topk_diagnoses(spark: SparkSession, sf_dir: str, *, k: int = 3) -> DataFrame:
    """Q2/O2: top-k categories with pct-of-total
    (analytics_examples.sql:19-30; query_builder.py:68's {limit} is the
    typed ``k`` parameter here)."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy()
    return (
        g.select(
            "l_returnflag", "l_linestatus", "cnt",
            round2(F.col("cnt").cast("double") * 100 / F.sum("cnt").over(w)).alias("pct"),
        )
        .orderBy(F.desc("cnt"), "l_returnflag", "l_linestatus")
        .limit(int(k))
    )


_DQ_SQL = """
    SELECT 'total_customers' AS metric, count(*) AS cnt FROM customer
    UNION ALL
    SELECT 'customers_without_p_orders', count(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    UNION ALL
    SELECT 'open_orders', count(*) FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'returned_lineitems', count(*) FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT 'error_events', count(*) FROM events WHERE event_type = 'error'
"""


@query("union_dq_report", oracle=_DQ_SQL)
def union_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/Q12: heterogeneous data-quality metrics stacked with UNION ALL
    (analytics_examples.sql:169-199), built with unionByName."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    def metric(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("cnt")).select(F.lit(name).alias("metric"), "cnt")

    no_p = c.join(o.filter(F.col("o_orderstatus") == "P"),
                  c["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        metric("total_customers", c)
        .unionByName(metric("customers_without_p_orders", no_p))
        .unionByName(metric("open_orders", o.filter(F.col("o_orderstatus") == "O")))
        .unionByName(metric("returned_lineitems", li.filter(F.col("l_returnflag") == "R")))
        .unionByName(metric("error_events", ev.filter(F.col("event_type") == "error")))
    )


# ===========================================================================
# §2.8 Scalar functions
# ===========================================================================


@query(
    "fn_sha2_anonymize",
    oracle="SELECT c_custkey, sha256(c_name) AS anonymized_name FROM customer",
)
def fn_sha2_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: SHA-256 PII anonymization (scripts/etl.py:35-37)."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_custkey", anonymize("c_name").alias("anonymized_name"))


@query(
    "fn_age_calc",
    oracle=f"""
    SELECT o_orderkey,
           CAST(date_part('year', DATE '{AS_OF_DATE}') - date_part('year', CAST(o_orderdate AS DATE))
                - CASE WHEN date_part('month', CAST(o_orderdate AS DATE)) > 8
                        OR (date_part('month', CAST(o_orderdate AS DATE)) = 8
                            AND date_part('day', CAST(o_orderdate AS DATE)) > 13)
                       THEN 1 ELSE 0 END AS INTEGER) AS age_years
    FROM orders
    """,
)
def fn_age_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: completed-years age from a date (scripts/etl.py:40-46), with
    o_orderdate standing in for date_of_birth and a fixed as-of date."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", age_years("o_orderdate").alias("age_years"))


@query(
    "fn_age_bucket",
    oracle="""
    WITH a AS (SELECT CAST(floor(c_acctbal / 100) AS INTEGER) AS age FROM customer)
    SELECT CASE WHEN age IS NULL THEN 'Unknown'
                WHEN age < 18 THEN 'Child (0-17)'
                WHEN age < 35 THEN 'Young Adult (18-34)'
                WHEN age < 50 THEN 'Adult (35-49)'
                WHEN age < 65 THEN 'Middle-Aged (50-64)'
                ELSE 'Senior (65+)' END AS age_group,
           count(*) AS cnt
    FROM a GROUP BY 1
    """,
)
def fn_age_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: age→bucket CASE chain (scripts/etl.py:49-62); ages synthesized
    from the balance so all buckets are populated."""
    c = _t(spark, sf_dir, "customer")
    age = F.floor(F.col("c_acctbal") / 100).cast("int")
    return (
        c.select(age_bucket(age).alias("age_group"))
        .groupBy("age_group")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "case_visit_cohorts",
    oracle="""
    WITH per AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
         coh AS (SELECT CASE WHEN n = 1 THEN '1 visit'
                             WHEN n <= 3 THEN '2-3 visits'
                             WHEN n <= 5 THEN '4-5 visits'
                             ELSE '6+ visits' END AS cohort FROM per)
    SELECT cohort, count(*) AS patient_count,
           floor(CAST(count(*) AS DOUBLE) * 100 / sum(count(*)) OVER () * 100 + 0.5) / 100 AS pct
    FROM coh GROUP BY cohort
    """,
)
def case_visit_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8/F10: visit-frequency cohorts — two-level aggregation + CASE
    bucketing + pct-of-total (analytics_examples.sql:104-130)."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    coh = per.select(visit_cohort("n").alias("cohort"))
    g = coh.groupBy("cohort").agg(F.count("*").alias("patient_count"))
    w = Window.partitionBy()
    return g.select(
        "cohort",
        "patient_count",
        round2(F.col("patient_count").cast("double") * 100 / F.sum("patient_count").over(w)).alias("pct"),
    )


@query(
    "fn_laplace_noise",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           {_oround(f"greatest(0.0, o_totalprice + {olaplace_noise('o_orderkey')})")} AS cost_with_privacy
    FROM orders
    """,
)
def fn_laplace_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: differential-privacy Laplace noise on the measure
    (fact_visits.sql:40-51). The uniform is derived from md5(o_orderkey)
    bits (bit-identical in Spark and DuckDB) so the inverse-CDF noise is
    hash-checkable, not merely statistical — see
    ``expressions.laplace_noise_hash``. Distributional properties are
    additionally pytest-checked (SURVEY §7.4)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        round2(with_privacy_noise_hash("o_totalprice", "o_orderkey")).alias("cost_with_privacy"),
    )


# ===========================================================================
# §2.4 A9/A10 Privacy audits
# ===========================================================================


@query(
    "privacy_k_anon",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_band,
           count(*) AS group_size,
           count(*) < {K_ANONYMITY} AS is_violation
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def privacy_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: k-anonymity group sizes over quasi-identifiers
    (privacy_engine.py:47-75)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_band"),
        )
        .agg(F.count("*").alias("group_size"))
        .withColumn("is_violation", F.col("group_size") < K_ANONYMITY)
    )


@query(
    "privacy_l_div",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           count(DISTINCT o_orderpriority) AS l_distinct,
           count(DISTINCT o_orderpriority) < {L_DIVERSITY} AS is_violation
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
)
def privacy_l_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: l-diversity — distinct sensitive values per QI group
    (privacy_engine.py:125-160)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.countDistinct("o_orderpriority").alias("l_distinct"))
        .withColumn("is_violation", F.col("l_distinct") < L_DIVERSITY)
    )


# ===========================================================================
# §2.1 Scans / sinks / audited reads   (S1-S7)
# ===========================================================================


@query(
    "scan_csv",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: CSV sink + schema'd CSV source roundtrip
    (scripts/etl.py:98, generate_data.py:71). Explicit schema — no
    inference pass over 100 TB."""
    import os as _os

    from pyspark.sql import types as T

    from ..config import SCRATCH_DIR
    from ..sources.loaders import read_csv, write_csv

    path = _os.path.join(SCRATCH_DIR, f"region_csv_{_os.path.basename(sf_dir.rstrip('/'))}")
    write_csv(_t(spark, sf_dir, "region").select("r_regionkey", "r_name"), path)
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ])
    return read_csv(spark, path, schema)


_PROFILE_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"]


@query(
    "profile_lineitem",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_str,
               CAST(max({c}) AS VARCHAR) AS max_str
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler (dbt-test measurement layer, dbt_project models'
    not_null/unique checks computed engine-side): per-column null count,
    exact distinct cardinality, min/max — ONE scan of the fact for all
    columns (the oracle needs {n} scans). Exact-distinct mode plans an
    Expand (row × n_cols); `profile_table(df, approx=True)` is the
    Expand-free HLL++ mode for 100 TB (pytest-covered)."""
    from ..operators.profiling import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem"), _PROFILE_COLS)


@query(
    "scan_jsonl",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + schema'd source roundtrip over the documents corpus —
    the interchange format LLM-data pipelines ship (one JSON object per
    line; newline-splittable so a 100 TB corpus parallelizes by byte
    ranges). Explicit read schema (no inference pass), FAILFAST on
    corrupt lines. Value-hash parity with the parquet oracle proves the
    JSON path is lossless for the corpus schema (incl. escaped newlines
    inside ``text``)."""
    import os as _os

    from ..config import SCRATCH_DIR
    from ..sources.loaders import jsonl_roundtrip

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    path = _os.path.join(
        SCRATCH_DIR, f"docs_jsonl_{_os.path.basename(sf_dir.rstrip('/'))}")
    return jsonl_roundtrip(spark, docs, path)


_SCAN_TABLE_SQL = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
"""


@query("scan_table", oracle=_SCAN_TABLE_SQL)
def scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: SQL-over-registered-tables source (pd.read_sql analog,
    dashboard.py:88)."""
    register_views(spark, sf_dir)
    return spark.sql(_SCAN_TABLE_SQL)


@query(
    "upsert_dedup",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT * FROM upd
    UNION ALL
    SELECT o.* FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
    """,
)
def upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the reference's per-row INSERT..ON CONFLICT upsert loop
    (scripts/etl.py:116-132) as ONE distributed anti-join + union
    (sources.sinks.upsert). Updates modify every key % 100 == 0 and append
    shifted new keys."""
    from ..sources.sinks import upsert

    o = _t(spark, sf_dir, "orders")
    upd_mod = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    upd_new = o.filter(F.col("o_orderkey") % 100 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    return upsert(o, upd_mod.unionByName(upd_new), ["o_orderkey"])


@query(
    "audited_read",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def audited_read_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: audited table read — appends a READ event to the audit sink,
    then returns the table (init.sql:170-192 analog)."""
    from ..sources.audit import audited_read

    return audited_read(spark, sf_dir, "nation")


@query(
    "audit_access_report",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS cnt,
           {_osum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def audit_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10/A2: access-pattern report over the append-only event table
    (analytics_examples.sql:145-156), day x action grain."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.count("*").alias("cnt"), dsum("value").alias("total_value"))
    )


# ===========================================================================
# §2.4 A10 t-closeness + privacy transforms
# ===========================================================================


@query(
    "privacy_t_close",
    oracle="""
    WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pr
               FROM orders JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT pr, CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM j) AS q
               FROM j GROUP BY pr),
         sc AS (SELECT seg, count(*) AS seg_n FROM j GROUP BY seg),
         pc AS (SELECT seg, pr, count(*) AS c FROM j GROUP BY seg, pr),
         grid AS (SELECT sc.seg, g.pr, g.q, sc.seg_n, COALESCE(pc.c, 0) AS c
                  FROM sc CROSS JOIN g
                  LEFT JOIN pc ON pc.seg = sc.seg AND pc.pr = g.pr)
    SELECT seg,
           CAST(sum(CAST(abs(CAST(c AS DOUBLE) / seg_n - q) AS DECIMAL(18,12)))
                AS DOUBLE) / 2 AS tvd,
           CAST(sum(CAST(abs(CAST(c AS DOUBLE) / seg_n - q) AS DECIMAL(18,12)))
                AS DOUBLE) / 2 > 0.2 AS is_violation
    FROM grid GROUP BY seg
    """,
)
def privacy_t_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: t-closeness — total-variation distance between each segment's
    sensitive-value distribution and the global one
    (privacy_engine.py:168-220)."""
    from ..operators.privacy import t_closeness_report

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pr"))
    )
    return t_closeness_report(j, "seg", "pr")


@query(
    "privacy_suppression",
    oracle=f"""
    WITH base AS (SELECT c_custkey, c_mktsegment, c_nationkey FROM customer),
         g AS (SELECT c_mktsegment, c_nationkey, count(*) AS cnt
               FROM base GROUP BY 1, 2)
    SELECT c_custkey,
           CASE WHEN cnt < {K_ANONYMITY} THEN '*' ELSE b.c_mktsegment END AS c_mktsegment,
           CASE WHEN cnt < {K_ANONYMITY} THEN NULL ELSE b.c_nationkey END AS c_nationkey
    FROM base b JOIN g ON b.c_mktsegment = g.c_mktsegment
                      AND b.c_nationkey = g.c_nationkey
    """,
)
def privacy_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression transform (privacy_engine.py:77-99): mask QI values in
    under-k groups — '*' for strings, NULL for numerics."""
    from ..operators.privacy import suppress_small_groups

    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    return suppress_small_groups(base, ["c_mktsegment", "c_nationkey"])


@query(
    "privacy_noise_impact",
    oracle=f"""
    WITH t AS (
      SELECT o_totalprice,
             greatest(0.0, o_totalprice + {olaplace_noise('o_orderkey')}) AS noisy
      FROM orders)
    SELECT {_oround("CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(o_totalprice)")} AS avg_cost,
           {_oround("CAST(sum(CAST(noisy AS DECIMAL(18,4))) AS DOUBLE) / count(noisy)")} AS avg_cost_with_privacy,
           {_oround("CAST(sum(CAST(abs(noisy - o_totalprice) AS DECIMAL(18,4))) AS DOUBLE) / count(*)")} AS avg_abs_noise
    FROM t
    """,
)
def privacy_noise_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: noise magnitude report (analytics_examples.sql:158-165) — noise
    is md5-keyed (``laplace_noise_hash``) so the report is hash-checkable;
    the statistical contract (|mean noise| bounded) stays pytest-checked."""
    o = _t(spark, sf_dir, "orders")
    noised = o.withColumn("noisy", with_privacy_noise_hash("o_totalprice", "o_orderkey"))
    return noised.agg(
        round2(davg("o_totalprice")).alias("avg_cost"),
        round2(davg("noisy")).alias("avg_cost_with_privacy"),
        round2(davg("abs(noisy - o_totalprice)")).alias("avg_abs_noise"),
    )


# ===========================================================================
# 100 TB-mode approximate variants (north_star scale-out toggles)
# ===========================================================================


def _hll_seg_oracle() -> str:
    from ..operators.sketches import hll_md5_oracle_sql

    return hll_md5_oracle_sql(
        "orders", "o_orderpriority", "o_custkey", out="approx_patients")


@query("approx_count_distinct_segments", oracle=_hll_seg_oracle())
def approx_count_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at scale: approximate COUNT DISTINCT via the repo-owned
    md5-register HyperLogLog (``sketches.hll_md5_distinct``) — same two
    map-side-combining shuffles as Spark's HLL++ binding but every bit
    replayable by the DuckDB oracle, which rebuilds the registers from
    the same md5 slices and replays the same estimator arithmetic
    (round-3 CMS treatment applied to distinct counting; closes the
    VERDICT r03 `no_oracle` row). ``approx_count_distinct_segments_native``
    keeps the built-in DataSketches path as the fast variant."""
    from ..operators.sketches import hll_md5_distinct

    o = _t(spark, sf_dir, "orders")
    return hll_md5_distinct(
        o, ["o_orderpriority"], "o_custkey", out="approx_patients")


@query(
    "approx_count_distinct_segments_native",  # HLL++ binary ≠ hash oracle
    # tolerance-mode oracle (local gate): the estimate must sit within
    # 10% (5x the 2% rsd) of the EXACT distinct count — a real numeric
    # certification where a hash match is impossible by construction
    soft_oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS approx_patients,
           count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
    rel_tolerance=0.10,
)
def approx_count_distinct_segments_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at scale, built-in fast path: approx_count_distinct (HLL++, 2%
    rsd) — opaque sketch state, so no hash oracle by construction; the
    certified twin above is the hash-checked surface and the local gate
    checks this one against the exact count within the sketch's band."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_patients"),
        F.count("*").alias("cnt"),
    )


def _qsample_p90_oracle() -> str:
    from ..operators.sketches import hash_sample_percentile_oracle_sql

    return hash_sample_percentile_oracle_sql(
        "orders", "o_orderstatus", "o_totalprice", 0.9, "o_orderkey",
        out="p90_approx")


@query("percentile_approx_p90", oracle=_qsample_p90_oracle())
def percentile_approx_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 at scale: approximate P90 via deterministic md5-Bernoulli
    sampling + exact interpolated percentile over the sample
    (``sketches.hash_sample_percentile``) — a mergeable bounded-size
    quantile estimate whose every kept row and final value the DuckDB
    oracle replays (closes the VERDICT r03 `no_oracle` row).
    ``percentile_approx_p90_native`` keeps Spark's percentile_approx
    KLL-style sketch as the fast variant."""
    from ..operators.sketches import hash_sample_percentile

    o = _t(spark, sf_dir, "orders")
    return hash_sample_percentile(
        o, ["o_orderstatus"], "o_totalprice", 0.9, id_col="o_orderkey",
        out="p90_approx")


@query(
    "percentile_approx_p90_native",  # KLL-style sketch ≠ hash oracle
    # tolerance-mode oracle (local gate): the sketch P90 must sit within
    # 2% of the exact continuous percentile (accuracy=10000 bounds rank
    # error at n/10000; 2% value headroom covers the gap-to-value map)
    soft_oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90_approx
    FROM orders GROUP BY o_orderstatus
    """,
    rel_tolerance=0.02,
)
def percentile_approx_p90_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 at scale, built-in fast path: percentile_approx (mergeable
    across partitions) — sketch internals aren't replayable, so no hash
    oracle; the certified twin above is the hash-checked surface and the
    local gate checks this one against the exact percentile within 2%."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        round2(F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000))).alias("p90_approx"),
    )


# ===========================================================================
# LLM-data-pipeline operators (north_star): text analysis, dedup,
# similarity search, multimodal plumbing — over documents / embeddings.
# ===========================================================================


@query(
    "text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS token_count
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting over the corpus (token budgeting).
    spread() ahead of the CPU-bound tokenize (few byte-sized input
    splits otherwise cap the map stage at 14 tasks; sf10 4.6 s → 1.5 s
    including the shuffle, back-to-back min-of-2)."""
    from ..operators.skew import spread
    from ..operators.text import token_count

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select("doc_id", token_count("text").alias("token_count"))


@query(
    "text_quality",
    oracle=r"""
    WITH t AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS char_len,
           CAST(len(toks) AS INTEGER) AS word_count,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(toks)
               AS avg_word_len,
           CAST(len(list_filter(toks, w -> w IN ('the', 'a'))) AS DOUBLE) / len(toks)
               AS stopword_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (C4/Gopher-style filters): lengths,
    word stats, stopword ratio — all JVM-side expressions. spread()
    ahead of the tokenize: the documents scan yields few byte-sized
    splits (14 at sf10) for a CPU-bound stage, so the map stage runs at
    less than half the machine with a straggler tail; the explicit
    repartition is the same CPU-amplification trade corpus_clean makes.
    Together with the one-aggregate quality_features rewrite: sf10
    14.3 s → 2.2 s back-to-back."""
    from ..operators.skew import spread
    from ..operators.text import quality_features

    return quality_features(spread(_t(spark, sf_dir, "documents"), "doc_id"))


@query(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint for cross-corpus identity.
    spread() ahead of the regex+md5 (CPU-bound on few input splits)."""
    from ..operators.skew import spread
    from ..operators.text import fingerprint

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "text_lang_profile",
    oracle=f"""
    SELECT lang, count(*) AS doc_count,
           {_oround(_oavg('n_chars'))} AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by language tag."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("doc_count"),
        round2(davg("n_chars")).alias("avg_chars"),
    )


def _langid_oracle() -> str:
    """DuckDB replica of operators.text.lang_id, generated from the same
    _LANG_PROFILES dict so the two can never drift: per-language stopword
    hit counts, argmax with alphabetical first-wins tiebreak, 'und' when
    every score is zero (the fold in lang_id only replaces on strict >,
    which is exactly 'first language reaching the max, alphabetically')."""
    from ..operators.text import _LANG_PROFILES

    langs = sorted(_LANG_PROFILES)
    score = ", ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS s_{}".format(
            ", ".join("'{}'".format(w) for w in _LANG_PROFILES[lg]), lg)
        for lg in langs
    )
    mx = "greatest({})".format(", ".join(f"s_{lg}" for lg in langs))
    arms = " ".join(f"WHEN s_{lg} = {mx} THEN '{lg}'" for lg in langs)
    return rf"""
    WITH t AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    s AS (SELECT doc_id, lang, {score} FROM t)
    SELECT doc_id, lang,
           CASE WHEN {mx} = 0 THEN 'und' {arms} END AS predicted_lang
    FROM s
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-profile language ID per document. The scoring
    expressions are interpreted higher-order functions (CPU ≫ bytes), so
    the scan is spread across the cluster first (``skew.spread``)."""
    from ..operators.skew import spread
    from ..operators.text import lang_id

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select("doc_id", "lang", lang_id("text").alias("predicted_lang"))


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy — one shuffle, O(n)."""
    from ..operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE doc_id % 7 = 0 AND len(toks) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard similarity on a deterministic id-sample of pairs —
    the verify stage of near-dup detection (production input: LSH
    candidates, not a sample)."""
    from ..operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, F.col("doc_id") % 7 == 0)


@query(
    "dedup_substring_spans",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, p, array_to_string(tk[p:p+7], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-8+1)) AS p
              FROM d WHERE len(tk) >= 8)
    ),
    dpos AS (
        SELECT doc_id, p FROM grams
        QUALIFY count(*) OVER (PARTITION BY g) > 1
    ),
    isl AS (
        SELECT doc_id, p,
               SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM (SELECT doc_id, p,
                     max(p) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) + 8 - 1 AS prev_end
              FROM dpos)
    ),
    spans AS (
        SELECT doc_id, island, min(p) AS s, max(p) + 8 - 1 AS e
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
           coalesce(n_dup_spans, 0) AS n_dup_spans,
           coalesce(dup_tokens, 0) AS dup_tokens,
           CAST(coalesce(dup_tokens, 0) AS DOUBLE) / len(d.tk) AS dup_fraction
    FROM d LEFT JOIN per_doc USING (doc_id)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup report (operators/dedup.py
    ``duplicated_spans``; Lee et al. 2022): per document, the maximal
    token spans whose every 8-token window recurs somewhere in the
    corpus — the span-level complement to the document-level near-dup
    family. Keyed shuffles only (spread() CPU re-partition, gram-keyed
    dup-count aggregate + skew-immune LEFT SEMI probe, doc-keyed
    islands), all linear in corpus tokens;
    the oracle replays the same gaps-and-islands merge on
    gram TEXT where Spark groups on fixed-width token-hash structs
    (counts identical absent an xxhash64 token collision, ~1e-9)."""
    from ..operators.dedup import duplicated_spans

    return duplicated_spans(_t(spark, sf_dir, "documents"), k=8)


@query(
    "dedup_substring_span_list",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, p, array_to_string(tk[p:p+7], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-8+1)) AS p
              FROM d WHERE len(tk) >= 8)
    ),
    dpos AS (
        SELECT doc_id, p FROM grams
        QUALIFY count(*) OVER (PARTITION BY g) > 1
    ),
    isl AS (
        SELECT doc_id, p,
               SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM (SELECT doc_id, p,
                     max(p) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) + 8 - 1 AS prev_end
              FROM dpos)
    )
    SELECT doc_id,
           CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + 8 - 1 AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island
    """,
)
def dedup_substring_span_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maximal duplicated spans themselves (operators/dedup.py
    ``duplicated_span_list``): (doc, span_start, span_end) in 1-based
    inclusive token positions — the direct input to a span cutter,
    which removes duplicated text rather than whole documents (Lee et
    al. 2022). Same pipeline and shuffles as the per-doc report; the
    oracle replays the islands merge and emits the spans instead of
    rolling them up."""
    from ..operators.dedup import duplicated_span_list

    return duplicated_span_list(_t(spark, sf_dir, "documents"), k=8)


@query(
    "corpus_cut_boilerplate",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, p, array_to_string(tk[p:p+7], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-8+1)) AS p
              FROM d WHERE len(tk) >= 8)
    ),
    dpos AS (
        SELECT doc_id, p FROM grams
        QUALIFY count(*) OVER (PARTITION BY g) > 1
    ),
    isl AS (
        SELECT doc_id, p,
               SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM (SELECT doc_id, p,
                     max(p) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) + 8 - 1 AS prev_end
              FROM dpos)
    ),
    spans AS MATERIALIZED (
        SELECT doc_id, min(p) AS s, max(p) + 8 - 1 AS e
        FROM isl GROUP BY doc_id, island
    ),
    toks AS (
        SELECT doc_id, p, tk[p] AS w
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p
              FROM d)
    ),
    kept AS (
        SELECT t.doc_id, t.p, t.w FROM toks t
        WHERE NOT EXISTS (SELECT 1 FROM spans s
                          WHERE s.doc_id = t.doc_id
                            AND t.p BETWEEN s.s AND s.e)
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
               CAST(count(*) AS BIGINT) AS kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(d.tk) - coalesce(r.kept, 0) AS BIGINT)
               AS n_removed_tokens
    FROM d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def corpus_cut_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION (operators/dedup.py ``cut_duplicated_spans``):
    remove every maximal duplicated span corpus-wide — boilerplate
    scrub. Every doc comes back (clean_text, n_removed_tokens); fully-
    boilerplate docs come back empty for the quality funnel to drop.
    The span relation is tiny, so its anti-join against the token
    stream is broadcast-shaped; the rebuild is one doc-keyed sorted
    collect bounded by document length."""
    from ..operators.dedup import cut_duplicated_spans

    return cut_duplicated_spans(_t(spark, sf_dir, "documents"), k=8)


# MinHash signature CTEs shared by the LSH oracle: same shingles as the
# rare-shingle oracle, Kirsch-Mitzenmacher h1 + j·h2 permutations from two
# md5-derived base hashes (bit-identical to operators/dedup.py hash52 use).
_MINHASH_SIG_CTES = r"""
    t AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3),
    h AS (
        SELECT doc_id,
               ('0x' || substr(m, 1, 13))::BIGINT AS a,
               (('0x' || substr(m, 14, 8))::BIGINT % 2147483648) AS b
        FROM (SELECT doc_id, md5('mh:' || s) AS m
              FROM (SELECT doc_id, unnest(sh) AS s FROM t))),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id)
""".format(
    mins=", ".join(f"min(a + {j} * b) AS h{j}" for j in range(16)),
)

_MINHASH_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig".format(
        b=b,
        bh=ohash52(
            " || ',' || ".join(f"CAST(h{4 * b + r} AS VARCHAR)" for r in range(4)),
            "bh:",
        ),
    )
    for b in range(4)
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_SIG_CTES},
    banded AS ({_MINHASH_BANDS_SQL}),
    capped AS (
        SELECT doc_id, band, band_hash FROM (
            SELECT doc_id, band, band_hash,
                   count(*) OVER (PARTITION BY band, band_hash) AS n
            FROM banded)
        WHERE n <= 64)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH candidate pairs — the scale path for
    near-dup mining (single bucket-join shuffle, no O(n²)). Hash-green:
    the md5-derived hash family (``hash52``) lets the oracle replay
    signatures, band hashes, the ≤64 bucket cap, and the within-bucket
    pair join bit-for-bit."""
    from ..operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


# SimHash signature CTEs shared by the signature-group and near-pair
# oracles: per-token hash52 bits, ±1 votes per bit position, sign of the
# vote sum assembled into the 48-bit signature.
_SIMHASH_SIG_CTES = r"""
    tok AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS w
        FROM documents),
    hh AS (SELECT doc_id, {hw} AS h FROM tok),
    votes AS (
        SELECT doc_id, g.i AS i,
               sum(CASE WHEN ((h >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM hh, (SELECT unnest(generate_series(0, 47)) AS i) g
        GROUP BY doc_id, g.i),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)
""".format(hw=ohash52("w", "sx:"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTES}
    SELECT simhash, count(*) AS doc_count, min(doc_id) AS keep_id
    FROM sig GROUP BY simhash
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash signatures grouped by exact signature match.
    Hash-green: per-token ``hash52`` bits make the bit-vote signature
    replayable in DuckDB (bitwise shift/and + vote-sign CTEs)."""
    from ..operators.dedup import simhash_groups

    return simhash_groups(_t(spark, sf_dir, "documents"))


@query(
    "dedup_simhash_near",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTES},
    banded AS (
        SELECT doc_id, simhash, c.c AS chunk,
               ((simhash >> (c.c * 12)) & 4095) AS chunk_val
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS c) c),
    capped AS (
        SELECT doc_id, simhash, chunk, chunk_val FROM (
            SELECT doc_id, simhash, chunk, chunk_val,
                   count(*) OVER (PARTITION BY chunk, chunk_val) AS n
            FROM banded)
        WHERE n <= 64)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM capped a JOIN capped b
      ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming ≤ 3) via pigeonhole chunk
    buckets — 4×12-bit chunks of the 48-bit signature guarantee any
    qualifying pair shares a bucket; never an n² join. Hash-green via
    the md5-derived signature (see ``dedup_simhash``)."""
    from ..operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"))


@query(
    "ann_cosine_topk",
    oracle="""
    SELECT vec_id, label,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
               AS cosine_sim
    FROM embeddings WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (brute force) — the ANN baseline. Broadcast
    1-row query side + TakeOrderedAndProject, no shuffle."""
    from ..operators.similarity import brute_force_topk

    return brute_force_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def _srp_bucket_sql(planes, evar: str = "e") -> str:
    """DuckDB SRP bucket expression replaying operators/similarity.py
    srp_bucket bit-for-bit: the plane constants are the same numpy
    Gaussians baked as repr() literals (exact double round-trip), and
    DuckDB's list_dot_product over DOUBLE[] matches Spark's sequential
    zip_with/aggregate double fold (the property ann_cosine_topk's
    hash-match already certifies)."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(float(v)) for v in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({evar}, {arr}) >= 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _ann_lsh_oracle() -> str:
    from ..operators.similarity import random_hyperplanes

    planes = random_hyperplanes(64, 8)
    return f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    b AS (SELECT vec_id, label, e, {_srp_bucket_sql(planes)} AS bucket FROM v),
    q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.label, list_cosine_similarity(b.e, q.qe) AS cosine_sim
    FROM b, q
    WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qb)) <= 1
    ORDER BY cosine_sim DESC, b.vec_id
    LIMIT 10
    """


@query("ann_lsh_topk", oracle=_ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH approximate top-k — score the query's bucket
    plus its Hamming-1 sign-flip neighbors (Lv et al. 2007), not the
    corpus. On weakly-clustered corpora recall needs either wider
    probing or multiple tables — tools/ann_quality.py MEASURES the
    recall/selectivity curve (docs/SHUFFLES.md); IVF/PQ with exact
    re-rank are the measured winners on this corpus. Hash-green: the
    oracle replays the sign-bit buckets from the same plane literals
    (see ``_srp_bucket_sql``), so candidates AND scores match exactly."""
    from ..operators.similarity import lsh_topk

    return lsh_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def _ann_lsh_multitable_oracle() -> str:
    from ..operators.similarity import random_hyperplanes

    buckets = []
    for t in range(4):
        planes = random_hyperplanes(64, 5, seed=42 + 1000 * t)
        buckets.append(_srp_bucket_sql(planes, evar="e"))
    bcols = ", ".join(f"{b} AS b{t}" for t, b in enumerate(buckets))
    qcols = ", ".join(f"b{t} AS qb{t}" for t in range(4))
    hit = " OR ".join(f"bit_count(xor(b.b{t}, q.qb{t})) <= 1" for t in range(4))
    return f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    b AS (SELECT vec_id, label, e, {bcols} FROM v),
    q AS (SELECT e AS qe, {qcols} FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.label, list_cosine_similarity(b.e, q.qe) AS cosine_sim
    FROM b, q
    WHERE b.vec_id <> 0 AND ({hit})
    ORDER BY cosine_sim DESC, b.vec_id
    LIMIT 10
    """


@query("ann_lsh_multitable", oracle=_ann_lsh_multitable_oracle())
def ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-table SRP-LSH (OR-construction) approximate top-k: 4 tables x
    5 planes, Hamming-1 probed — the measured recall lever
    (tools/ann_quality.py: 0.85 recall@10 vs 0.09 for one probed
    table on the sf0.1 corpus). One projection pass computes all L
    bucket columns; at ingest they are stored and probing is L
    bucket-pruned scans unioned before the exact cosine re-rank.
    Hash-green via the replayed plane literals (``_srp_bucket_sql``)."""
    from ..operators.similarity import lsh_topk_multitable

    return lsh_topk_multitable(_t(spark, sf_dir, "embeddings"),
                               query_vec_id=0, k=10)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: attach opaque bytes + Arrow-batched
    mapInPandas feature extraction (decode stage stubbed — byte-level
    features keep the oracle exact)."""
    from ..operators.multimodal import attach_binary, extract_features

    d = attach_binary(_t(spark, sf_dir, "documents"))
    return extract_features(d)


@query(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(256 + (n_chars * 7) % 1024 AS BIGINT) AS n_samples,
           CAST(256 + (n_chars * 7) % 1024 AS DOUBLE) / 8000.0 AS duration_s
    FROM documents
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE audio decode, oracle-certified through independent
    arithmetic: each row gets a deterministic PCM16 WAV payload
    (operators/multimodal.py synth_wav — real RIFF bytes), the feature
    stage DECODES it with the stdlib wave parser inside mapInPandas, and
    the decoded header fields + sample count are compared against the
    oracle's closed-form recomputation (n_samples = 256 + 7*n_chars mod
    1024, duration = n/8000). A decode bug — wrong header offset, frame
    miscount, channel mixup — breaks the hash match, so this certifies
    the binary round-trip without the oracle ever parsing a WAV. The
    signal-level features from the same decode (RMS, zero crossings,
    peak) live in multimodal_audio_features (rows-only + numpy-parity
    pytest: not SQL-recomputable)."""
    from ..operators.multimodal import attach_wav, audio_features

    d = attach_wav(_t(spark, sf_dir, "documents"))
    return audio_features(d).select(
        "doc_id", "sample_rate", "n_channels", "n_samples", "duration_s"
    )


@query(
    "multimodal_image_meta",
    oracle="""
    WITH grid AS (
        SELECT x, y
        FROM (SELECT unnest(generate_series(0, 31)) AS x),
             (SELECT unnest(generate_series(0, 23)) AS y))
    SELECT d.doc_id,
           CAST(32 AS INTEGER) AS width,
           CAST(24 AS INTEGER) AS height,
           (SELECT CAST(sum(x * 255 // 31) AS DOUBLE) / 32 FROM grid WHERE y = 0)
               AS mean_r,
           (SELECT CAST(sum(y * 255 // 23) AS DOUBLE) / 24 FROM grid WHERE x = 0)
               AS mean_g,
           (SELECT CAST(sum((x + y + d.doc_id % 251) % 256) AS DOUBLE) / 768
            FROM grid) AS mean_b
    FROM documents d
    """,
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE image decode, oracle-certified like multimodal_audio_meta:
    each row gets a real P6 PPM payload (synth_ppm gradient+phase
    pattern), image_features DECODES the pixel planes inside
    mapInPandas, and the per-channel means are hash-compared against the
    oracle's closed-form recomputation over the synthesis formula (sum
    of the exact uint8 grid / 768 — integer sums then one double
    division, bit-equal on both engines). A raster offset, plane
    interleave, or header-parse bug shifts the means and breaks the
    gate; the oracle never parses a PPM."""
    from ..operators.multimodal import attach_ppm, image_features

    d = attach_ppm(_t(spark, sf_dir, "documents"))
    return image_features(d)


@query(
    "multimodal_audio_features",  # decoded-signal features — tolerance oracle
    # Closed-form twin of the synth→decode→feature pipeline: the WAV
    # payload is a deterministic PCM16 sine (multimodal.synth_wav), so
    # the decoded samples have the closed form
    # x_i = round(sin(2π·freq·(i/8000))·12000) and every feature is a
    # SQL aggregate over generate_series. Checked in TOLERANCE mode
    # (1e-9 ≈ a-few-ulp band) rather than hash mode because sin() comes
    # from libm on both sides — measured bit-exact at sf0.01 and sf0.1
    # today, but a libm revision legitimately moves rint-boundary
    # samples by 1, which is drift, not a bug.
    soft_oracle="""
    WITH docs AS (
        SELECT doc_id,
               256 + (n_chars * 7) % 1024 AS n,
               110.0 + (doc_id % 40) * 55.0 AS freq
        FROM documents
    ),
    samples AS (
        SELECT d.doc_id, d.n, i,
               CAST(round(sin((2 * pi() * d.freq) * (i / 8000.0))
                          * 12000.0) AS BIGINT) AS x
        FROM docs d, LATERAL (SELECT unnest(range(d.n)) AS i) s
    ),
    flags AS (
        SELECT doc_id, n, x,
               CASE WHEN (x < 0) <> (lag(x) OVER (PARTITION BY doc_id
                                                  ORDER BY i) < 0)
                    THEN 1 ELSE 0 END AS zc
        FROM samples
    )
    SELECT doc_id,
           8000 AS sample_rate,
           1 AS n_channels,
           CAST(max(n) AS BIGINT) AS n_samples,
           max(n) / 8000.0 AS duration_s,
           sqrt(CAST(sum(x * x) AS DOUBLE) / max(n)) AS rms,
           CAST(sum(zc) AS BIGINT) AS zero_crossings,
           CAST(max(abs(x)) AS INT) AS peak
    FROM flags GROUP BY doc_id
    """,
    rel_tolerance=1e-9,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decoded-signal feature set over real PCM-WAV payloads: RMS,
    zero-crossing count, peak amplitude — computed from the DECODED
    int16 samples, not payload bytes. Arrow-batched mapInPandas after
    spread(); per-row cost is the decode + three numpy reductions.
    Certified by a closed-form tolerance oracle (see decorator): rms's
    integer sum-of-squares stays exact below 2^53, so the only numeric
    wiggle is libm sin at rint boundaries."""
    from ..operators.multimodal import attach_wav, audio_features

    d = attach_wav(_t(spark, sf_dir, "documents"))
    return audio_features(d)


# ===========================================================================
# Streaming (batch-parity queries; the live pipelines are in
# streaming.pipelines and stream/batch parity is pytest-enforced)
# ===========================================================================


@query(
    "stream_hourly_agg",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS cnt,
           {_osum('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h x event_type aggregation — the batch twin of the
    watermarked streaming pipeline (streaming.pipelines.tumbling_hourly);
    F.window start is epoch-aligned = date_trunc('hour')."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import tumbling_hourly

    return tumbling_hourly(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding_agg",
    oracle="""
    WITH shifted AS (
        SELECT make_timestamp(CAST(floor((epoch(ts) - 0) / 3600) * 3600 + 0 AS BIGINT)
                              * 1000000) AS window_start, event_type
        FROM events
        UNION ALL
        SELECT make_timestamp(CAST(floor((epoch(ts) - 1800) / 3600) * 3600 + 1800 AS BIGINT)
                              * 1000000), event_type
        FROM events
    )
    SELECT window_start, event_type, count(*) AS cnt
    FROM shifted GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m windows: each event contributes to two epoch-aligned
    windows (F.window(ts, '1 hour', '30 minutes'))."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import sliding_hourly

    return sliding_hourly(load_table(spark, sf_dir, "events"))


@query(
    "stream_session_count",
    oracle="""
    WITH x AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM x GROUP BY user_id
    """,
)
def stream_session_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session counts via native session windows (gap 30m) —
    gap-merge semantics equal the lag/cumsum formulation the oracle uses."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import session_counts

    return session_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_dedup_first",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id, event_type, event_id FROM r WHERE rn = 1
    """,
)
def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) — deterministic batch twin
    of streaming dropDuplicates under a watermark."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import dedup_keep_first

    return dedup_keep_first(load_table(spark, sf_dir, "events"))


@query(
    "stream_enrich_segment",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           c_mktsegment AS segment, count(*) AS cnt,
           {_osum('value')} AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly events per customer segment — batch twin of the
    stream-static enrichment join (streaming.pipelines.
    streaming_enrich_segment); parity pytest-enforced."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import enrich_with_segment

    return enrich_with_segment(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@query(
    "stream_funnel_pairs",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_funnel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase pairs within 1h — batch twin of the stream-stream
    interval join (streaming.pipelines.streaming_funnel_pairs): equi-key
    co-shuffle on user_id plus a range predicate, state bounded by the
    watermark in the live pipeline."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import funnel_pairs

    return funnel_pairs(load_table(spark, sf_dir, "events"))


# ===========================================================================
# ML pipeline (features + anomaly are oracle-checked; model scoring is
# rows-only — MLlib RNG can't be replayed in SQL)
# ===========================================================================


@query(
    "ml_features",
    oracle=f"""
    SELECT o_custkey AS customer_id, o_orderkey AS visit_id,
           o_totalprice AS cost,
           count(*) OVER w AS visit_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
               / count(*) OVER w AS avg_cost,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF_DATE}')
                AS INTEGER) AS days_since_visit,
           CAST(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(lead(o_orderdate) OVER wo AS DATE)) <= 30
                     THEN 1 ELSE 0 END AS INTEGER) AS readmitted_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey),
           wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: the ML feature query, fully in-engine (ml_pipeline.py:52-73
    pulled to pandas; here it stays a window-function plan)."""
    from ..ml.pipeline import build_features

    return build_features(spark, sf_dir)


@query(
    "anomaly_quantile",
    oracle="""
    WITH th AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.99) AS threshold
                FROM orders GROUP BY 1)
    SELECT o_orderkey, o.o_orderstatus, o_totalprice,
           floor(threshold * 100 + 0.5) / 100 AS p99_cost
    FROM orders o JOIN th ON o.o_orderstatus = th.o_orderstatus
    WHERE o_totalprice > threshold
    """,
)
def anomaly_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog: IsolationForest's distributed stand-in — per-group
    exact-quantile threshold outliers (SURVEY.md §7.4 item 4)."""
    from ..ml.pipeline import anomaly_scores

    return anomaly_scores(spark, sf_dir)


@query(
    "ml_predict_readmission",
    # containment-band oracle (local gate): the RF's full per-row scores
    # can't be SQL-replayed, but its POSITIVE predictions have a hard
    # SQL contract — every (customer_id, visit_id) the model flags must
    # be an ACTUAL 30-day readmission per the same window-function label
    # the ml_features oracle computes. Measured precision 1.000 at both
    # gate SFs (seeded fit); floor pinned at 0.80.
    containment_oracle="""
    SELECT o_custkey AS customer_id, o_orderkey AS visit_id
    FROM (SELECT o_custkey, o_orderkey,
             CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                  CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE)) <= 30
                  THEN 1 ELSE 0 END AS readmitted
          FROM orders)
    WHERE readmitted = 1
    """,
    containment_floor=0.80,
    containment_cols=("customer_id", "visit_id"),
    containment_filter="predicted_readmit == 1",
)
def ml_predict_readmission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RF readmission risk scoring (train + score in-engine,
    seeded). SQL can't replay the MLlib fit, but the flagged subset is
    certified by a containment-band oracle (decorator): predicted
    positives must be actual 30-day readmissions at >=0.80 precision
    (measured 1.000 at sf0.01 and sf0.1); model quality is also
    pytest-asserted."""
    from ..ml.pipeline import predict_readmission

    return predict_readmission(spark, sf_dir)


@query(
    "ml_anomaly_iforest",
    # containment-band oracle (local gate): the tree ensemble is not
    # SQL-replayable, but its FLAGGED rows have a checkable quality
    # contract — every flagged visit_id must land in the top 15% of
    # visits by summed per-feature robust z-score over the SAME four
    # features the forest sees (z of `days` is shift-invariant, so the
    # as-of date does not matter). Measured containment 0.969 (sf0.01) /
    # 0.985 (sf0.1); floor pinned at 0.90.
    containment_oracle=f"""
    WITH f AS (
      SELECT o_orderkey AS visit_id,
             CAST(o_totalprice AS DOUBLE) AS cost,
             count(*) OVER w AS visit_count,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                 / count(*) OVER w AS avg_cost,
             date_diff('day', CAST(o_orderdate AS DATE),
                       DATE '{AS_OF_DATE}') AS days
      FROM orders WINDOW w AS (PARTITION BY o_custkey)
    ), st AS (
      SELECT avg(cost) mc, stddev_pop(cost) sc,
             avg(visit_count) mv, stddev_pop(visit_count) sv,
             avg(avg_cost) ma, stddev_pop(avg_cost) sa,
             avg(days) md, stddev_pop(days) sd FROM f
    ), z AS (
      SELECT visit_id,
             abs(cost - mc) / nullif(sc, 0)
           + abs(visit_count - mv) / nullif(sv, 0)
           + abs(avg_cost - ma) / nullif(sa, 0)
           + abs(days - md) / nullif(sd, 0) AS ztot
      FROM f, st
    )
    SELECT visit_id FROM z ORDER BY ztot DESC, visit_id
    LIMIT (SELECT CAST(count(*) * 0.15 AS BIGINT) FROM f)
    """,
    containment_floor=0.90,
    containment_cols=("visit_id",),
    containment_filter="is_anomaly == 1",
)
def ml_anomaly_iforest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IsolationForest anomaly scoring at functional parity with the
    reference's sklearn model (ml_pipeline.py:250-253) — pure-numpy
    iTrees fit on a bounded deterministic hash-sample, broadcast as flat
    node arrays, scored distributed in one Arrow pass
    (``ml.iforest.iforest_anomalies``). The randomized ensemble has no
    SQL replay, but the flagged subset is certified by a containment-band
    oracle (decorator): >=0.90 of flagged visits must sit in the top-15%
    robust-z outlier superset (measured 0.969/0.985 at the gate SFs);
    score sanity and rank agreement with the oracled quantile/MAD paths
    are also pytest-asserted on planted outliers."""
    from ..ml.iforest import iforest_anomalies

    return iforest_anomalies(spark, sf_dir)


@query(
    "anomaly_listing",
    oracle="""
    WITH th AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.99) AS threshold
                FROM orders GROUP BY 1)
    SELECT o_orderkey, o.o_orderstatus, o_totalprice,
           floor(threshold * 100 + 0.5) / 100 AS p99_cost
    FROM orders o JOIN th ON o.o_orderstatus = th.o_orderstatus
    WHERE o_totalprice > threshold
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def anomaly_listing(spark: SparkSession, sf_dir: str, *, k: int = 20) -> DataFrame:
    """ML predictions round-trip (ml_pipeline.py:350-361 upsert →
    api.py:388-400 anomaly endpoint): score anomalies on the deterministic
    quantile path, UPSERT them into the ml_predictions parquet store, then
    serve the top-k from the STORED table — the full score→persist→requery
    loop, oracle-checked because the quantile scorer is deterministic."""
    import hashlib
    import os
    import tempfile

    from ..ml.pipeline import anomaly_scores
    from ..sources.sinks import upsert_to_path

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"hdw_mlpred_{tag}")
    stored = upsert_to_path(spark, path, anomaly_scores(spark, sf_dir), ["o_orderkey"])
    return (
        stored.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(int(k))
    )


@query(
    "kpi_block",
    oracle=f"""
    SELECT (SELECT count(DISTINCT c_custkey) FROM customer) AS total_patients,
           (SELECT count(DISTINCT s_suppkey) FROM supplier) AS total_providers,
           v.total_visits, v.avg_cost
    FROM (SELECT count(*) AS total_visits,
                 {_oround(_oavg('o_totalprice'))} AS avg_cost
          FROM orders) v
    """,
)
def kpi_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's 4-KPI card payload in ONE pass (api.py:208-214,
    dashboard_kpis.sql:6-12): the reference issues four scalar subqueries
    (two of them full fact scans); here the fact contributes count+avg
    from a single scan, and the two dim counts are separate tiny scans —
    three 1-row aggregates cross-joined (bounded → broadcast is safe)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    fact_kpis = o.agg(
        F.count("*").alias("total_visits"),
        round2(davg("o_totalprice")).alias("avg_cost"),
    )
    patients = c.agg(F.countDistinct("c_custkey").alias("total_patients"))
    providers = s.agg(F.countDistinct("s_suppkey").alias("total_providers"))
    return (
        patients.crossJoin(F.broadcast(providers))
        .crossJoin(F.broadcast(fact_kpis))
        .select("total_patients", "total_providers", "total_visits", "avg_cost")
    )


# ===========================================================================
# Remaining reference query-catalog shapes (Q3 / Q5 / Q14) + fact keys
# ===========================================================================


@query(
    "provider_utilization",
    oracle=f"""
    SELECT s_nationkey,
           count(*) AS visit_count,
           count(DISTINCT l_suppkey) AS provider_count,
           {_oround(_oavg('l_extendedprice'))} AS avg_cost
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def provider_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: provider utilization by specialty analog
    (analytics_examples.sql:32-43) — fact x broadcast dim, grouped on a
    dim attribute."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("visit_count"),
            F.countDistinct("l_suppkey").alias("provider_count"),
            round2(davg("l_extendedprice")).alias("avg_cost"),
        )
    )


@query(
    "visittype_distribution",
    oracle="""
    WITH g AS (
        SELECT o_orderstatus, count(*) AS cnt,
               CAST(min(o_totalprice) AS DOUBLE) AS min_cost,
               CAST(max(o_totalprice) AS DOUBLE) AS max_cost
        FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus, cnt,
           floor(CAST(cnt AS DOUBLE) * 100 / sum(cnt) OVER () * 100 + 0.5) / 100 AS pct,
           min_cost, max_cost
    FROM g
    """,
)
def visittype_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: visit-type distribution with pct-of-total and min/max measures
    (analytics_examples.sql:57-68)."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.min("o_totalprice").alias("min_cost"),
        F.max("o_totalprice").alias("max_cost"),
    )
    w = Window.partitionBy()
    return g.select(
        "o_orderstatus", "cnt",
        round2(F.col("cnt").cast("double") * 100 / F.sum("cnt").over(w)).alias("pct"),
        "min_cost", "max_cost",
    )


@query(
    "patient_history",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS visit_date,
           o_totalprice, o_orderpriority, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey = 42
    """,
)
def patient_history(spark: SparkSession, sf_dir: str, *,
                    patient_key: int = 42) -> DataFrame:
    """Q14: one patient's visit history (api.py:307-320,
    query_builder.py:100's {patient_id} — here a typed int parameter) —
    point predicate + dim join; the key filter prunes row groups on the
    fact and shrinks the dim side to one row (auto-broadcast)."""
    key = int(patient_key)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") == key)
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == key)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("visit_date"),
            "o_totalprice", "o_orderpriority", "c_name",
        )
    )


@query(
    "fact_surrogate_keys",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS order_key,
           o_orderkey, CAST(o_orderdate AS DATE) AS visit_date
    FROM orders
    """,
)
def fact_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 on the fact: dense keys ordered by (date, id) — the reference's
    ORDER BY visit_date, visit_id (fact_visits.sql:64) — via the two-phase
    range-partitioned generator (multi-column ordering path)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    keyed = add_dense_key(o, ["o_orderdate", "o_orderkey"], key_col="order_key")
    return keyed.select(
        "order_key", "o_orderkey", F.col("o_orderdate").cast("date").alias("visit_date")
    )


# ===========================================================================
# Beyond-reference extensions (SURVEY §2 "not present" gaps that Spark
# provides nearly free): as-of / interval joins, rollup/cube, ranking
# windows, frame windows, set ops, regex/JSON scalar functions.
# ===========================================================================


@query(
    "join_asof",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id, 0 AS tag FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, event_id, 1 FROM events WHERE event_type = 'purchase'
    ), x AS (
        SELECT user_id, ts, event_id, tag,
               last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
        FROM u)
    SELECT event_id, user_id,
           CAST(date_trunc('second', last_click) AS TIMESTAMP) AS last_click_at
    FROM x WHERE tag = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join: each purchase matched to the user's latest prior click —
    union+window formulation, ONE shuffle on the key (operators.temporal),
    never a range self-join."""
    from ..operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="user_id", right_ts_alias="last_click")
    return out.select(
        "event_id", "user_id",
        F.date_trunc("second", "last_click").cast("timestamp_ntz").alias("last_click_at"),
    )


@query(
    "join_range_interval",
    oracle="""
    SELECT p.event_id, p.user_id, count(c.ts) AS clicks_10min_before
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks in the 10 minutes before each purchase."""
    from ..operators.temporal import range_join_count

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(purchases, clicks, on="user_id", ts_col="ts",
                           lookback="10 MINUTES", count_alias="clicks_10min_before")
    return out.select("event_id", "user_id", "clicks_10min_before")


@query(
    "agg_rollup",
    oracle=f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt,
           {_osum('o_totalprice')} AS total_cost
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (status → status+priority → grand)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_cost"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt", "total_cost",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(l_returnflag, 'ALL') AS returnflag,
           count(*) AS cnt
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY CUBE(o_orderstatus, l_returnflag)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations over a join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .cube("o_orderstatus", "l_returnflag")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            "cnt",
        )
    )


@query(
    "window_rank_ntile",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK / NTILE over a keyed ordering (total order via
    the key tiebreak keeps ntile deterministic)."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey", "s_nationkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "window_moving_avg",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      {_osum('o_totalprice')} AS daily
               FROM orders GROUP BY 1)
    SELECT day,
           CAST(sum(CAST(daily AS DECIMAL(18,4))) OVER w AS DOUBLE)
               / count(*) OVER w AS ma7
    FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue — explicit rowsBetween frame.
    The global window runs over the (small) pre-aggregated daily series,
    so the single-partition sort is safe at any raw-data scale."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("daily")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return d.select(
        "day",
        (dsum("daily", over=w) / F.count("*").over(w)).alias("ma7"),
    )


@query(
    "window_range_30d",
    oracle="""
    WITH o2 AS (SELECT o_custkey, o_orderkey,
                       date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
                       o_totalprice
                FROM orders)
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY day_num
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_30d_cost
    FROM o2
    """,
)
def window_range_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per-customer trailing-30-day spend at every visit
    (value-based frame over the day number, peers included)."""
    o = _t(spark, sf_dir, "orders")
    day_num = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    o2 = o.select("o_custkey", "o_orderkey", day_num.alias("day_num"), "o_totalprice")
    w = (
        Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, Window.currentRow)
    )
    return o2.select(
        "o_custkey", "o_orderkey",
        dsum("o_totalprice", over=w).alias("trailing_30d_cost"),
    )


@query(
    "setops_nations",
    oracle="""
    SELECT 'intersect' AS op, nk FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    UNION ALL
    SELECT 'except', nk FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    UNION ALL
    SELECT 'union_distinct', nk FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    """,
)
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT (reference only uses UNION ALL)."""
    c = _t(spark, sf_dir, "customer")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_nationkey").alias("nk"))
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(F.col("c_nationkey").alias("nk"))

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.select(F.lit(op).alias("op"), "nk")

    return (
        tag(b.intersect(a), "intersect")
        .unionByName(tag(b.subtract(a), "except"))
        .unionByName(tag(b.union(a).distinct(), "union_distinct"))
    )


@query(
    "fn_json_extract",
    oracle="""
    SELECT event_id, CAST(props->>'k' AS INTEGER) AS k_val FROM events
    """,
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the event props payload."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k_val")
    )


@query(
    "fn_regex_extract",
    oracle=r"""
    SELECT c_custkey, CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) AS name_num
    FROM customer
    """,
)
def fn_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture-group extraction (numeric id embedded in the name)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.regexp_extract("c_name", r"(\d+)", 1).cast("long").alias("name_num")
    )


# ===========================================================================
# Incremental loads, skew handling, embedding near-dup
# ===========================================================================


@query(
    "dim_incremental",
    oracle="""
    WITH existing AS (
        SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key, c_custkey
        FROM customer WHERE c_custkey % 10 <> 7),
    newrows AS (
        SELECT (SELECT coalesce(max(customer_key), 0) FROM existing)
                   + ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
               c_custkey
        FROM customer WHERE c_custkey % 10 = 7)
    SELECT customer_key, c_custkey FROM existing
    UNION ALL
    SELECT customer_key, c_custkey FROM newrows
    """,
)
def dim_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+W2+F11 composed: the reference's incremental dimension load
    (dim_patients.sql:20-35) — anti-join away already-loaded keys, then
    continue the surrogate sequence from COALESCE(MAX(key),0)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    existing = add_dense_key(
        c.filter(F.col("c_custkey") % 10 != 7), ["c_custkey"], key_col="customer_key"
    )
    max_key = existing.agg(
        F.coalesce(F.max("customer_key"), F.lit(0)).alias("m")
    ).collect()[0]["m"]
    incoming = c  # the "new batch" re-delivers everything (idempotent load)
    new_rows = incoming.join(existing.select("c_custkey"), "c_custkey", "left_anti")
    new_keyed = add_dense_key(new_rows, ["c_custkey"], key_col="customer_key",
                              offset=max_key)
    return existing.select("customer_key", "c_custkey").unionByName(
        new_keyed.select("customer_key", "c_custkey")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.3), blocked on
    the label (the standard near-dup blocking key: only candidates within
    a block are scored — label here; SRP-LSH bucket at 100 TB, same
    scoring expression, one bucket-join shuffle).

    Runs through ``similarity.cosine_pairs_blas``: the quadratic candidate
    scoring happens as chunk-pair numpy GEMM batches (Arrow in, BLAS
    matmul, Arrow out) with a margin that makes the prescreen a proven
    superset, and only the rare survivors are re-scored with the
    sequential-double Catalyst expression — so the OUTPUT is bit-identical
    to the naive pair join + ``zip_with`` dot (and to DuckDB's
    ``list_cosine_similarity`` oracle), while the candidate cost drops
    from per-pair expression interpretation to one GEMM per chunk pair.
    The round-2 shape (``blocked_pair_join`` + expression dot) scaled
    25x for 10x rows at sf1 — candidates grow quadratically in block
    size; GEMM makes each candidate ~2 fused flops instead of an
    interpreted 64-element fold.

    Oversized-block guard: blocks beyond ``max_block_rows`` (100k
    default — far above the ~22k max label block at sf10) never run the
    quadratic; they route through SRP-LSH sub-blocking at routable
    thresholds. 0.3 is BELOW the routable range (a hot label at this
    threshold has near-quadratic OUTPUT — no candidate generator fixes
    that), so oversized blocks degrade to the output-CAPPED per-doc
    emission instead (each row's top-5 neighbors >= 0.3 via the
    block-scoped ``ivf_knn_join`` decomposition, canonical undirected
    pairs — the ``dedup_embedding_topk`` semantics, linear output), with
    the ``capped_topk`` regime stamped into the bench decisions block.
    Every gate fixture (sf0.01 max label block 59, sf0.1 218, sf10
    21.8k) is far under the guard, so certified output stays the exact,
    COMPLETE pair listing; the cap engages only at curve scales (sf30+
    label blocks 65k+) where the complete listing is quadratic by
    semantics."""
    from .. import decisions
    from ..operators.similarity import cosine_pairs_blas

    e = _t(spark, sf_dir, "embeddings")
    decisions.record(plan="exact+capped_topk_fallback", threshold=0.3,
                     max_block_rows=100_000)
    return cosine_pairs_blas(
        e, block_col="label", id_col="vec_id", vec_col="embedding",
        threshold=0.3)


@query(
    "dedup_embedding_topk",
    oracle="""
    SELECT src, dst, cosine_sim FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[]))
                   AS cosine_sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])) DESC,
                       b.vec_id) AS rn
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.3
    ) WHERE rn <= 5
    """,
)
def dedup_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LINEAR-output form: each doc's exact top-5
    neighbors at cosine >= 0.3 within its label block (score desc,
    neighbor id asc). The all-pairs listing (``dedup_embedding_cosine``)
    is quadratic BY SEMANTICS — 220M pairs at sf30 — but the pipeline
    decision ("is this doc a near-dup, and of what") only needs the best
    few neighbors per doc, which bounds output at k rows per input row.

    Runs through ``similarity.cosine_topk_per_row_blas``: chunk-pair
    GEMM candidates (each group emits its per-row group-top-k within the
    float margin — a superset of the global top-k since subset rank
    never exceeds global rank), exact sequential-double re-score,
    threshold filter, one bounded per-source window. Output bit-matches
    DuckDB's all-pairs + row_number oracle.

    Oversized blocks ROUTE through the ``ivf_knn_join`` decomposition
    (candidates bounded at n_probe·k per row — no corpus-wide candidate
    window, which is where the exact path's only measured spill lived at
    sf30: 7.1 GB of window sort over 65k-row blocks). The 32k routing
    guard sits above every gate fixture's largest block (sf0.01 59,
    sf0.1 218, sf10 21.8k — all EXACT, oracle hash-parity intact) and
    below sf30's 65.4k, so the bench scale point exercises the routed
    regime at the pinned >=0.9 recall target. Routed blocks take
    fixed-list IVF knobs by ``routed_ivf_params``' cost model (r10:
    every routable block is above the 20k fraction/fixed-list cost
    crossover; the old 100k row threshold left sf30's 65k blocks in
    the fraction regime — the measured non-monotone pocket, sf30
    103.5 s > sf60 66.1 s on the r9 curve). Regime config is stamped
    for bench provenance; the runtime split is data-dependent (decided
    per block from broadcast counts, no extra eager scan)."""
    from .. import decisions
    from ..operators.similarity import cosine_topk_per_row_blas

    e = _t(spark, sf_dir, "embeddings")
    decisions.record(plan="exact+route", route_block_rows=32_768,
                     route_target_recall=0.9)
    return cosine_topk_per_row_blas(
        e, block_col="label", id_col="vec_id", vec_col="embedding",
        k=5, threshold=0.3, max_block_rows=32_768, on_oversize="route")


@query(
    "embedding_nn_clusters",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
    sim AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS s
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rn
            FROM sim) WHERE rn = 1),
    sym AS (SELECT src AS a, dst AS b FROM nn UNION SELECT dst, src FROM nn),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
        ) SELECT * FROM r),
    comp AS (
        SELECT a AS vec_id, least(a, min(b)) AS cluster_rep
        FROM reach GROUP BY a)
    SELECT c.vec_id, c.cluster_rep, s.cluster_size
    FROM comp c
    JOIN (SELECT cluster_rep, count(*) AS cluster_size
          FROM comp GROUP BY 1) s USING (cluster_rep)
    """,
)
def embedding_nn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor clustering over embeddings: each vector links to
    its top-1 cosine neighbor within its label block (deterministic
    argmax: score desc, id asc), and connected components over the NN
    graph yield cluster assignments (component id = min member id).

    Distributed shape: exact top-1 per row, no score floor
    (similarity.cosine_topk_per_row_blas at k=1, threshold=None — GEMM
    chunk-pair candidates scored in-task with the exact fold, so the NN
    edge set is bit-identical to scoring every pair with the expression
    dot) → iterative min-label propagation
    (operators.graph.connected_components, one shuffle per round,
    lineage checkpoint-truncated). The oracle replays the exact same
    semantics with a recursive-CTE transitive closure."""
    from ..operators.graph import connected_components
    from ..operators.similarity import cosine_topk_per_row_blas

    e = _t(spark, sf_dir, "embeddings")
    nn = cosine_topk_per_row_blas(
        e, "label", "vec_id", "embedding", k=1, threshold=None,
    ).select("src", "dst")
    comp = connected_components(nn, max_iter=50)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("vec_id"),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
    )


@query(
    "skew_salted_agg",
    oracle=f"""
    SELECT l_returnflag, count(*) AS cnt,
           {_osum('l_extendedprice')} AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: partial agg on (key, salt) spreads
    one hot reduce key over 16 tasks; decimal partials make the re-merged
    sums exactly equal the direct aggregation (the oracle)."""
    from ..operators.skew import explode_salted_agg

    li = _t(spark, sf_dir, "lineitem")
    return explode_salted_agg(li, "l_returnflag", "l_extendedprice", salt_buckets=16)


@query(
    "skew_auto_agg",
    oracle=f"""
    SELECT l_returnflag, count(*) AS cnt,
           {_osum('l_extendedprice')} AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_auto_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-adaptive count+sum aggregation (VERDICT r03 item 5,
    re-measured round 7): resolves to the PLAIN aggregate with a
    ``plain_partial_agg`` regime stamp — map-side partials emit at most
    one row per key per task, so collapsing aggregates are skew-immune
    by construction (measured on the sf10skew Zipf fixture: plain 1.02 s
    vs salted two-phase 1.32 s on a 38%-hot key). The salted two-phase
    stays available as ``explode_salted_agg`` (``skew_salted_agg``
    proves its value parity) for NON-collapsing aggregates whose
    partials don't shrink."""
    from ..operators.skew import auto_agg

    li = _t(spark, sf_dir, "lineitem")
    return auto_agg(li, "l_returnflag", "l_extendedprice")


@query(
    "skew_auto_join",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS cnt,
           {_osum('l_extendedprice')} AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_auto_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-ADAPTIVE fact⋈fact join: revenue by order priority over
    lineitem⋈orders on the order key — the join shape where skew
    actually decides plans, because at scale NEITHER side broadcasts.
    ``skew.auto_join`` resolves the measured decision tree (see its
    docstring): gate fixtures stamp ``plain_broadcast`` (orders fits the
    broadcast threshold, skew immaterial); the sf10skew Zipf fixture
    (tools/make_skew_data.py, one order holding 38% of lineitems) stamps
    ``plain_aqe_skewjoin`` — AQE splits the hot partition (measured
    18.4 s vs 32.9 s unhandled vs 18.9 s salted); an AQE-disabled
    session stamps ``salted:N`` (the known-hot-key fallback, pinned by
    pytest). Values are identical on every path (this oracle is the
    plain join) — the regime stamp in each bench artifact shows which
    physical strategy ran at that fixture."""
    from ..operators.skew import auto_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice").withColumnRenamed("l_orderkey",
                                                           "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    joined = auto_join(li, o.select("o_orderkey", "o_orderpriority"),
                       on="o_orderkey", sample_fraction=0.5)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("l_extendedprice").alias("total")
    )


@query(
    "skew_salted_join",
    oracle=f"""
    SELECT s_nationkey, count(*) AS cnt,
           {_osum('l_extendedprice')} AS total
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: big side salted, dim replicated saltx — semantically
    identical to the plain join (the oracle proves it) while spreading a
    hot supplier key over 8 tasks."""
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    s = _t(spark, sf_dir, "supplier")
    joined = salted_join(li, s.select("s_suppkey", "s_nationkey"), on="s_suppkey",
                         salt_buckets=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("cnt"), dsum("l_extendedprice").alias("total")
    )


# ===========================================================================
# Remaining composed reference queries: Q6, Q7, Q9
# ===========================================================================


@query(
    "geo_distribution",
    oracle="""
    WITH g AS (
        SELECT n_name, count(*) AS patient_count,
               count(DISTINCT c_mktsegment) AS segment_count
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
    SELECT n_name, patient_count, segment_count,
           floor(CAST(patient_count AS DOUBLE) * 100 / sum(patient_count) OVER ()
                 * 100 + 0.5) / 100 AS pct
    FROM g
    ORDER BY patient_count DESC, n_name
    LIMIT 20
    """,
)
def geo_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: geographic distribution — top-20 regions by patient count with
    pct-of-total (analytics_examples.sql:70-79)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    g = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("patient_count"),
            F.countDistinct("c_mktsegment").alias("segment_count"),
        )
    )
    w = Window.partitionBy()
    return (
        g.select(
            "n_name", "patient_count", "segment_count",
            round2(
                F.col("patient_count").cast("double") * 100 / F.sum("patient_count").over(w)
            ).alias("pct"),
        )
        .orderBy(F.desc("patient_count"), "n_name")
        .limit(20)
    )


@query(
    "highcost_above_p90",
    oracle="""
    WITH p90 AS (SELECT quantile_cont(o_totalprice, 0.9) AS p90_cost FROM orders)
    SELECT o_orderkey, c_name, o_totalprice,
           floor(p90.p90_cost * 100 + 0.5) / 100 AS p90_cost
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    CROSS JOIN p90
    WHERE o_totalprice > p90.p90_cost
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def highcost_above_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 composed: percentile CTE (A6) + dim join (J2) + scalar cross
    join (J4) + theta filter (P5) + top-k (O2)
    (analytics_examples.sql:81-102)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p90 = o.agg(F.percentile("o_totalprice", F.lit(0.9)).alias("p90_raw"))
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .crossJoin(F.broadcast(p90))
        .filter(F.col("o_totalprice") > F.col("p90_raw"))
        .select(
            "o_orderkey", "c_name", "o_totalprice",
            round2(F.col("p90_raw")).alias("p90_cost"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "diag_proc_matrix",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
           {_oround(_oavg('o_totalprice'))} AS avg_cost
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    HAVING count(*) >= 5
    """,
)
def diag_proc_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: diagnosis x procedure co-occurrence matrix — composite group-by
    + HAVING (analytics_examples.sql:132-143)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            round2(davg("o_totalprice")).alias("avg_cost"),
        )
        .filter(F.col("cnt") >= 5)
    )


@query(
    "knn_join_exact",
    oracle="""
    SELECT src, dst, cosine_sim FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[]))
                   AS cosine_sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])) DESC,
                       b.vec_id) AS rn
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rn <= 5
    """,
)
def knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global k-NN self-join (every row's true top-5 cosine
    neighbors over the whole corpus, no blocking) — the hash-certified
    twin of ``ann_knn_join``: identical semantics, exact answer, and the
    quadratic cost that motivates the approximate path. Runs through
    ``cosine_topk_per_row_blas`` with a constant block (the whole corpus
    is one block — fine at gate scale, guarded at 100k rows where the
    IVF path takes over). threshold=None keeps every neighbor: a global
    top-k has no natural score floor, and -1.0 is not "none" — the exact
    fold of v against -v can land a rounding step below -1.0."""
    from ..operators.similarity import cosine_topk_per_row_blas

    e = _t(spark, sf_dir, "embeddings").withColumn("__all", F.lit(1))
    return cosine_topk_per_row_blas(
        e, block_col="__all", id_col="vec_id", vec_col="embedding",
        k=5, threshold=None)


@query(
    "ann_knn_join",  # approximate bulk k-NN — recall-band oracle
    recall_oracle="""
    SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])) DESC,
                   b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rn <= 5
    """,
    recall_floor=0.90,  # measured 0.949 (sf0.01) / 0.947 (sf0.1)
    recall_cols=("src", "dst"),
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk approximate k-NN self-join over the whole embeddings table:
    EVERY row's top-5 cosine neighbors in one pass (the corpus-wide
    neighbor listing an embedding-dedup or retrieval-eval pipeline runs,
    where per-query index probes would mean one job per row and the
    exact per-row top-k is quadratic per block).

    `operators/similarity.ivf_knn_join`: sample-trained coarse quantizer
    → one Arrow pass assigns each row its membership + probe lists →
    per-list grouped-map GEMM (striped, task-memory bounded) → bounded
    per-source window.

    TWO stamped regimes, COST-MODEL gated (r10 — the r9 row-count
    threshold left a measured superlinear pocket: sf3 28.2 s > sf10
    25.1 s on the committed curve; `similarity.ann_regime_costs` picks
    whichever regime estimates fewer scored candidates per row, so the
    wall curve is monotone by construction):

    - ``recall_fraction``: the knobless default (probe 12/16 via the
      0.9 recall-target calibration; recall 0.947 measured, pinned by
      pytest against brute force). Candidates/row = 0.75 × corpus —
      cheaper below 20k rows, the regime every gate fixture runs.
    - ``fixed_list_size``: n_lists scales with the corpus (~1,250
      rows/list, the r5 scaling-measurement shape) at a fixed probe
      COUNT, so candidates/row is a CONSTANT 15,000 and total work
      linear — the 100 TB regime (measured 10× rows = 8.6× wall).
      Recall in this regime follows the corpus's cluster structure:
      near-uniform synthetic vectors are the worst case (the quantizer
      has nothing to exploit); real embedding corpora cluster, which is
      what makes fixed-probe IVF the standard production ANN shape
      (Jégou 2011).

    Approximate by construction — no SQL oracle; rows-only + recall
    test. The exact twin ``knn_join_exact`` is hash-certified."""
    from .. import decisions
    from ..operators.similarity import (ann_regime_costs, ivf_knn_join,
                                        routed_ivf_params)

    e = _t(spark, sf_dir, "embeddings")
    n = e.count()
    costs = ann_regime_costs(n)
    knobs = routed_ivf_params(n)
    if knobs:
        decisions.record(plan="fixed_list_size", n_rows=n,
                         n_lists=knobs["n_lists"], n_probe=knobs["n_probe"],
                         cand_per_row_fixed=round(costs["fixed_cand_per_row"]),
                         cand_per_row_fraction=round(
                             costs["fraction_cand_per_row"]))
        return ivf_knn_join(e, k=5, rows_hint=n, **knobs)
    decisions.record(plan="recall_fraction", n_rows=n,
                     cand_per_row_fixed=round(costs["fixed_cand_per_row"]),
                     cand_per_row_fraction=round(
                         costs["fraction_cand_per_row"]))
    return ivf_knn_join(e, k=5, rows_hint=n)


@query(
    "ann_ivf_topk",  # approximate (KMeans lists) — recall-band oracle
    recall_oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id FROM embeddings b, q
    WHERE b.vec_id <> 0
    ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), q.qv)
        DESC, b.vec_id
    LIMIT 10
    """,
    recall_floor=0.90,  # the calibration target; measured 1.0 (sf0.01) / 0.90 (sf0.1)
    recall_cols=("vec_id",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k the 100 TB way: the KMeans quantizer runs once
    at ingest (index build, cached per corpus content by
    ``_derived_artifact``) and materializes list_id as a PARTITION
    column; the query scans only the n_probe nearest lists — partition
    pruning, not a full-corpus filter."""
    from ..operators.similarity import ivf_build_index, ivf_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    if emb.isEmpty():  # backfill edge: nothing to index, nothing to probe
        return emb.select(
            "vec_id", "label", F.lit(0.0).alias("cosine_sim")).limit(0)
    index_dir = _derived_artifact(
        sf_dir, "embeddings", "ivf",
        lambda d: ivf_build_index(emb, d, n_lists=16))
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    # knobless call: n_probe resolves from the measured recall table to
    # hit the 0.9 default target (probe 12/16, 0.97 measured recall)
    return ivf_topk_indexed(spark, index_dir, qvec, k=10, exclude_id=0)


@query(
    "stream_user_profiles",
    oracle="""
    SELECT user_id, count(*) AS total_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): final
    per-user profiles after draining the stream. Hash-green on the
    batch-invariant columns: state carries total_value as exact integer
    micro-units (associative int64 sums — independent of micro-batch
    boundaries), so the drained totals bit-match the oracle's one-shot
    aggregate — the stream ≡ batch contract, driver-checked. The
    ``bursts`` column (by construction a property of micro-batch
    boundaries, not of the data) stays out of the certified projection
    and is covered by tests/test_stateful_ivf.py."""
    from ..streaming.pipelines import run_stream_to_memory
    from ..streaming.stateful import streaming_user_profiles

    out = run_stream_to_memory(
        streaming_user_profiles(spark, sf_dir),
        f"user_profiles_{abs(hash(sf_dir)) % 10000}",
        output_mode="update",
    )
    # update-mode sink may hold multiple versions per user; keep the latest
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("total_events"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "total_events", "total_value")
    )


@query(
    "stream_user_profiles_v2",
    oracle="""
    SELECT user_id, count(*) AS total_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS total_value,
           CAST(LEAST(count(*), 8) AS INTEGER) AS recent_n
    FROM events GROUP BY user_id
    """,
)
def stream_user_profiles_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State API v2 (transformWithStateInPandas) twin of
    stream_user_profiles: named ValueState + bounded ListState per user,
    RocksDB state store, protobuf state-server worker protocol
    (streaming/stateful_v2.py — incl. the vendored-runtime bootstrap
    that makes this entry runnable in containers without protobuf).
    Hash-green on the batch-invariant columns: total_value carried as
    exact int64 micro-units (associative — stream ≡ batch bit-for-bit)
    and recent_n, which drains to LEAST(total_events, RECENT_K)
    regardless of micro-batch boundaries. ``bursts``/``deviation`` are
    by construction properties of batch boundaries and stay out of the
    certified projection (covered by tests/test_streaming_v2.py)."""
    from ..streaming.pipelines import run_stream_to_memory
    from ..streaming.stateful_v2 import streaming_user_profiles_v2, tws_session

    with tws_session(spark):
        out = run_stream_to_memory(
            streaming_user_profiles_v2(spark, sf_dir),
            f"user_profiles_v2_{abs(hash(sf_dir)) % 10000}",
            output_mode="update",
        )
    # update-mode sink may hold multiple versions per user; keep the latest
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("total_events"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "total_events", "total_value", "recent_n")
    )


@query(
    "stream_simhash_band_registry",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTES},
    banded AS (
        SELECT doc_id, c.c AS band_idx,
               ((simhash >> (c.c * 12)) & 4095) AS band_value
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS c) c)
    SELECT CAST(band_idx AS INTEGER) AS band_idx, band_value,
           min(doc_id) AS first_doc_id, count(*) AS doc_count
    FROM banded GROUP BY band_idx, band_value
    """,
)
def stream_simhash_band_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection at INGEST: the document stream's
    48-bit SimHash splits into 4×12-bit pigeonhole bands (any pair
    within hamming ≤ 3 shares a band exactly — dedup_simhash_near's
    decomposition), and a transformWithStateInPandas processor keyed by
    (band_idx, band_value) maintains the running (first_doc_id = min,
    doc_count) registry. Both state fields are associative, so the
    drained registry is independent of micro-batch boundaries AND
    arrival order — it hash-matches the one-shot batch oracle (the
    stream ≡ batch contract, driver-checked; same discipline as
    stream_user_profiles_v2). A doc is a near-dup candidate iff any of
    its bands has first_doc_id < doc_id — one batch join over this
    registry, no second stateful operator. State: one (long, long) per
    distinct band value, RocksDB-backed — O(corpus bands), never stream
    volume."""
    from ..streaming.pipelines import run_stream_to_memory
    from ..streaming.stateful_v2 import (
        streaming_simhash_band_registry,
        tws_session,
    )

    with tws_session(spark):
        out = run_stream_to_memory(
            streaming_simhash_band_registry(spark, sf_dir),
            f"simhash_bands_{abs(hash(sf_dir)) % 10000}",
            output_mode="update",
            # the per-doc simhash expression is the batch's cost center
            # (~0.6 ms/doc on 32 cores); size the drain cap for the
            # multi-100k-doc scale fixtures rather than silently timing
            # out (run_stream_to_memory raises on timeout)
            timeout_s=1800,
        )
    # update-mode sink may hold multiple versions per band; keep latest
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_value").orderBy(
        F.desc("doc_count"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("band_idx", "band_value", "first_doc_id", "doc_count")
    )


@query(
    "stream_fanout_totals",
    oracle="""
    SELECT user_id, event_type,
           count(*) AS total_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_fanout_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-shaped multi-sink fan-out, certified end-to-end: ONE
    checkpointed drain of the event stream feeds three sinks (raw
    archive, mergeable aggregate partials, alert route — each an
    idempotent per-batch partition overwrite, streaming/fanout.py), and
    the serving view merges the per-batch partials back into
    per-(user, event_type) totals. Totals accumulate in DECIMAL(18,4)
    (sums of sums — the mergeable-aggregate discipline), so the result
    is independent of micro-batch boundaries and hash-matches the
    oracle's one-shot batch aggregate — the stream≡batch contract,
    driver-checked. The fan-out dest is per-(sf_dir, pid) so concurrent
    harness processes never share a checkpoint."""
    import hashlib
    import os
    import tempfile

    from ..streaming.fanout import read_user_totals, run_event_fanout
    from ..streaming.pipelines import EVENT_SCHEMA

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    dest = os.path.join(tempfile.gettempdir(),
                        f"hdw_fanout_{tag}_{os.getpid()}")
    run_event_fanout(spark, sf_dir, dest, os.path.join(dest, "_ckpt"),
                     EVENT_SCHEMA, path_glob="events.parquet")
    return read_user_totals(spark, dest)


@query(
    "text_token_stats",
    oracle=r"""
    WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents)
    SELECT token, count(*) AS term_freq,
           count(DISTINCT doc_id) AS doc_freq
    FROM w GROUP BY token
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document frequency
    via explode → single hash aggregate (the TF-IDF substrate; one
    shuffle on the token at any corpus size)."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    w = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return w.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


# CMS bucket expression: depth row h reads its own disjoint 6-hex slice
# of one md5 — bit-identical to operators/sketches.py _cells
# (DEPTH=5, WIDTH=2048, SEED=1789).
_CMS_BUCKET = ("(('0x' || substr(md5('cms1789:' || {t}), 1 + 6 * {d}.h, 6))"
               "::BIGINT % 2048)")


@query(
    "token_heavy_hitters",
    oracle=rf"""
    WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents),
    depths AS (SELECT unnest(generate_series(0, 4)) AS h),
    cms AS (
        SELECT h, bucket, count(*) AS cnt FROM (
            SELECT d.h AS h, {_CMS_BUCKET.format(d='d', t='w.token')} AS bucket
            FROM w, depths d)
        GROUP BY h, bucket),
    cand AS (SELECT DISTINCT token FROM w),
    cc AS (
        SELECT cand.token, d.h AS h,
               {_CMS_BUCKET.format(d='d', t='cand.token')} AS bucket
        FROM cand, depths d),
    est AS (
        SELECT cc.token, min(coalesce(cms.cnt, 0)) AS est_count
        FROM cc LEFT JOIN cms ON cms.h = cc.h AND cms.bucket = cc.bucket
        GROUP BY cc.token)
    SELECT token, est_count FROM est
    ORDER BY est_count DESC, token LIMIT 20
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens by count-min-sketch estimate
    (operators/sketches.py). The 100 TB shape: the sketch is a bounded
    depth×width relation built in one explode+groupBy pass and persisted
    at ingest; repeated frequency questions then join candidates against
    the sketch instead of rescanning the corpus. Hash-green: md5-derived
    CMS cells let the oracle rebuild the identical sketch and replay the
    min-over-depth estimates. Exact counterpart for certification:
    ``text_token_stats`` (same tokenizer, oracle-matched). Estimates are
    pytest-pinned to never undercount and stay within the eps·N CMS
    bound (tests/test_sketches.py)."""
    from ..operators.sketches import heavy_hitters
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    w = d.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(w, "token", k=20)


@query(
    "text_tfidf",
    oracle=r"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM w GROUP BY doc_id, token),
    s AS (
        SELECT doc_id, token,
               floor((CAST(tf AS DOUBLE)
                      / sum(tf) OVER (PARTITION BY doc_id)
                      * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                           / count(*) OVER (PARTITION BY token)))
                     * 10000 + 0.5) / 10000 AS tfidf
        FROM tf)
    SELECT doc_id, token AS top_term, tfidf FROM (
        SELECT doc_id, token, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, token) AS rn
        FROM s) WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document: tf = in-doc count / doc length,
    idf = ln(N/df). df_map (vocabulary-sized) and doclen (one row per
    document) both grow with the corpus, so neither carries a broadcast
    hint: tf⋈doclen co-shuffles on doc_id, tf⋈df_map shuffles on token,
    and AQE still broadcasts either while it fits the threshold.

    Hash-green despite ln(): the score is rounded to 4dp with the
    IEEE-pure floor formula (functions.expressions.round2 — exact
    double arithmetic on both engines), and the per-doc argmax orders by
    the ROUNDED score with a token tie-break, so libm ln()'s last-ulp
    variance (≲2 ulp between JVM and glibc) is absorbed unless a value
    sits within ~1e-16 of a 1e-4 rounding boundary — a ~1e-13-per-value
    coincidence, the same absorption argument the Laplace-noise oracle
    uses. The division inputs (tf/len, N/df) are single IEEE ops,
    bit-identical by construction."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    # N as a 1-row aggregate crossJoined in (the repo-wide scalar pattern)
    # rather than a driver-side d.count(): the whole query stays ONE job —
    # no extra eager action/scan per invocation — and the count subtree is
    # parquet count-pushdown (metadata only, no row materialization).
    nd = d.agg(F.count("*").cast("double").alias("__n_docs"))
    # Tokenize ONCE, in ONE linear pipeline: doc length and document
    # frequency come from WINDOWS over the (doc_id, token) aggregate —
    # sum(tf) per doc is the doc length, and a token's row count in tf IS
    # its distinct-doc frequency — not from self-join branches. Branching
    # re-executes everything past the last shared exchange, so the
    # tf/doclen/df_map three-way join formulation tokenizes the corpus
    # three times; windows keep one tokenize pass. The explode runs after
    # a pinned keyed repartition (skew.spread) so a one-file corpus
    # doesn't tokenize on a single core; the tf aggregation, the doc-len
    # window, and the final per-doc top-1 window all reuse that doc_id
    # partitioning — the only other shuffle is tf-sized, on the token,
    # for the df window.
    w = spread(d, "doc_id").select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = w.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    len_w = Window.partitionBy("doc_id")
    df_w = Window.partitionBy("token")
    scored = (
        tf.crossJoin(F.broadcast(nd))
        .withColumn("len", F.sum("tf").over(len_w))
        .withColumn("df", F.count("*").over(df_w))
        .withColumn(
            "tfidf",
            round2(
                (F.col("tf").cast("double") / F.col("len"))
                * F.log(F.col("__n_docs") / F.col("df")),
                4,
            ),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


@query(
    "multimodal_frames",
    oracle="""
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           CAST(least(32, nb - i * 32) AS INTEGER) AS frame_bytes
    FROM d, LATERAL (SELECT unnest(generate_series(0,
        CAST(ceil(nb / 32.0) AS BIGINT) - 1)) AS i)
    WHERE nb > 0
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling mapInPandas stage (video keyframe-extraction shape:
    output cardinality > input). The deterministic byte-stride stand-in
    decode makes the whole Arrow explode-shaped Python stage
    oracle-checkable: per-frame index + frame byte length must equal the
    SQL chunking of the payload."""
    from ..operators.multimodal import attach_binary, sample_frames

    d = attach_binary(_t(spark, sf_dir, "documents"))
    frames = sample_frames(d, every_n_bytes=32)
    return frames.select(
        "doc_id", "frame_idx",
        F.octet_length("frame_payload").cast("int").alias("frame_bytes"),
    )


@query(
    "text_repetition",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    g AS (
        SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
        WHERE len(toks) >= 2),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
    r AS (SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM gc GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS distinct_token_ratio,
           CAST(r.top_c AS DOUBLE) / r.tot AS top_bigram_frac
    FROM t JOIN r ON t.doc_id = r.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of
    distinct tokens, and the share of the single most frequent word
    bigram (repetitive boilerplate scores high). One explode + two keyed
    aggregates, CPU spread before tokenize; docs under 2 tokens drop (no
    bigram exists — explode of the empty gram array emits no rows, so
    the inner join drops them like the oracle's JOIN).

    Bigrams are ``ngram_hashes`` token-hash structs, not concatenated
    strings: the output exposes only the frequency ratio, so grouping on
    fixed-width longs skips the per-occurrence string build and halves
    the aggregate's hash/compare bytes (same identity-by-hash acceptance
    as quality_bigram_lm). The previous form built grams with
    transform(sequence(...), i -> element_at(t, i)) where ``t`` was a
    CAPTURED outer split — interpreted HOF eval re-tokenizes per
    element, O(n_tokens²) per doc (the dedup.shingles capture pitfall);
    measured at sf10 back-to-back: 28.2 s → 4.9 s."""
    from ..operators.skew import spread
    from ..operators.text import ngram_hashes, tokens

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = tokens("text")
    base = d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        .alias("distinct_token_ratio"),
    )
    g = d.select("doc_id", F.explode(ngram_hashes("text", 2)).alias("gram"))
    gc = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    r = gc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("tot")
    )
    return (
        base.join(r, "doc_id")
        .select(
            "doc_id", "distinct_token_ratio",
            (F.col("top_c").cast("double") / F.col("tot")).alias("top_bigram_frac"),
        )
    )


@query(
    "text_dup_ngram_chars",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    tot AS (
        SELECT doc_id, SUM(len(tok)) AS total_chars
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        GROUP BY 1),
    g AS (
        SELECT doc_id, i AS gpos, toks[i] || ' ' || toks[i + 1] AS gram
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
        WHERE len(toks) >= 2),
    dup AS (
        SELECT doc_id, gpos
        FROM (SELECT doc_id, gpos,
                     count(*) OVER (PARTITION BY doc_id, gram) AS c
              FROM g)
        WHERE c >= 2),
    cov AS (
        SELECT DISTINCT doc_id, gpos + o AS pos
        FROM dup, LATERAL (SELECT unnest(generate_series(0, 1)) AS o)),
    dc AS (
        SELECT cov.doc_id, SUM(len(t.toks[cov.pos])) AS dup_chars
        FROM cov JOIN t ON cov.doc_id = t.doc_id
        GROUP BY 1)
    SELECT t.doc_id,
           CASE WHEN COALESCE(tot.total_chars, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(dc.dup_chars, 0) AS DOUBLE)
                     / tot.total_chars
           END AS dup_ngram_char_frac
    FROM t
    LEFT JOIN tot ON t.doc_id = tot.doc_id
    LEFT JOIN dc ON t.doc_id = dc.doc_id
    """,
)
def text_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gate #2 (completes text_repetition's
    distinct-ratio/top-gram pair): fraction of a document's characters
    lying under DUPLICATED word bigrams, overlap counted once — the
    'fraction of characters in duplicate n-grams' filter of Rae 2021
    §A1.1. Boilerplate that repeats whole phrases scores high even when
    no single gram dominates (which top_bigram_frac would miss).

    EVERY document is kept (dup-free and sub-bigram docs score 0.0) —
    the coverage operator left-joins per-doc totals. The fraction is a
    single long/long double division, bit-identical to the oracle's."""
    from ..operators.skew import spread
    from ..operators.text import dup_ngram_coverage

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    cov = dup_ngram_coverage(d, n=2)
    return cov.select(
        "doc_id",
        F.when(F.col("total_chars") == 0, F.lit(0.0))
        .otherwise(F.col("dup_chars").cast("double") / F.col("total_chars"))
        .alias("dup_ngram_char_frac"),
    )


@query(
    "embedding_dim_profile",
    oracle="""
    WITH e AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    x AS (
        SELECT label, CAST(i - 1 AS INTEGER) AS dim, emb[i] AS v
        FROM e, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i))
    SELECT label, dim, count(*) AS n,
           min(v) AS min_v, max(v) AS max_v
    FROM x GROUP BY label, dim
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) embedding range profile via posexplode —
    the columnar vector-stats pass (feature ranges for normalization /
    drift checks). min/max/count only: exact under any accumulation
    order, so the distributed result matches the oracle bit-for-bit
    (a dim-wise MEAN would need decimal accumulation)."""
    from ..operators.skew import spread

    e = spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    x = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "v")
    )
    return x.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


# ===========================================================================
# Corpus curation (deterministic sampling / packing / clean pipeline —
# operators.curation; md5-keyed so every op is fully oracle-checkable)
# ===========================================================================


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE lang WHEN 'en' THEN '4000' ELSE '8000' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: keep 25% of the dominant language, 50% of the
    rest, via the deterministic md5 sampling key — reproducible, shuffle
    free, pushed to the scan (no RNG, unlike sampleBy)."""
    from ..operators.curation import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(d, rates={"en": 0.25}, default_rate=0.5)


@query(
    "pack_token_budget",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        FROM documents)
    SELECT doc_id, lang, shard, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY lang, shard
                                           ORDER BY doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                       - n_tokens) / 2048.0) AS BIGINT) AS pack_id
    FROM t
    """,
)
def pack_token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 2048-token context-window packing per (lang, md5-shard) —
    #strata × 16 independent sorted windows, never a global sort."""
    from ..operators.curation import pack_token_budget

    return pack_token_budget(_t(spark, sf_dir, "documents"), budget=2048)


@query(
    "chunk_documents",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    st AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks), 1), 24)) AS start
        FROM t)
    SELECT doc_id,
           CAST((start - 1) / 24 AS INTEGER) AS chunk_id,
           array_to_string(list_slice(toks, start, start + 31), ' ') AS chunk_text,
           CAST(len(list_slice(toks, start, start + 31)) AS INTEGER)
               AS n_chunk_tokens
    FROM st
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token chunks with 8-token overlap
    (stride 24) — sequence+explode+slice; the chunk build itself is one
    codegen'd projection fan-out, linear in corpus size and shuffle-free.
    The one exchange here is the spread() ahead of it: the local fixture
    scan yields 14 byte-sized splits for a CPU-bound stage (sf10
    6.2 s → 1.7 s); on a production layout with thousands of splits the
    spread is unnecessary and the operator runs scan-parallel."""
    from ..operators.curation import chunk_documents
    from ..operators.skew import spread

    return chunk_documents(spread(_t(spark, sf_dir, "documents"), "doc_id"),
                           chunk_tokens=32, overlap=8)


@query(
    "corpus_clean",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang, source,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               md5(text) AS fp,
               CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\s+')) AS awl
        FROM documents),
    q AS (
        SELECT * FROM t
        WHERE n_tokens BETWEEN 10 AND 5000 AND awl <= 15.0),
    d AS (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM q),
    b AS (
        SELECT doc_id, lang, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM d WHERE doc_id = keep_id)
    SELECT doc_id, lang, source, n_tokens FROM b WHERE cum <= 5000
    """,
)
def corpus_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: C4/Gopher-style quality filter → exact dedup
    (min-id per md5 fingerprint) → per-language 5000-token budget."""
    from ..operators.curation import corpus_clean

    return corpus_clean(_t(spark, sf_dir, "documents"))


@query(
    "corpus_mixture",
    oracle=r"""
    WITH a AS (
        SELECT lang, source, count(*) AS doc_count,
               CAST(sum(len(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS token_count
        FROM documents GROUP BY lang, source)
    SELECT lang, source, doc_count, token_count,
           CAST(token_count AS DOUBLE) / sum(token_count) OVER () AS token_share
    FROM a
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture composition table: per (lang, source) doc/token
    counts and token share — one aggregate, pct-of-total over the tiny
    aggregated result."""
    from ..operators.curation import mixture_stats

    return mixture_stats(_t(spark, sf_dir, "documents"))


@query(
    "sample_k_per_group",
    oracle="""
    SELECT doc_id, lang FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) <= 25
    """,
)
def sample_k_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25-per-language sample (hash-ordered per-group
    row_number — the reservoir-sampling stand-in that is reproducible
    and partition-independent)."""
    from ..operators.curation import sample_k_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_k_per_group(d, k=25)


@query(
    "mixture_temperature",
    oracle=r"""
    WITH a AS (
        SELECT lang,
               CAST(sum(len(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS token_count
        FROM documents GROUP BY lang),
    b AS (
        SELECT lang, token_count,
               CAST(token_count AS DOUBLE) / sum(token_count) OVER ()
                   AS token_share
        FROM a),
    c AS (SELECT lang, token_count, token_share,
                 sqrt(token_share) AS s FROM b)
    SELECT lang, token_count, token_share,
           s / CAST(sum(CAST(s AS DECIMAL(18,12))) OVER () AS DOUBLE)
               AS weight
    FROM c
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 mixture rebalancing weights per language —
    share^0.5 renormalized (sqrt for cross-engine bit parity; the
    normalizer accumulates in DECIMAL so it's combine-order-free)."""
    from ..operators.curation import temperature_weights

    return temperature_weights(_t(spark, sf_dir, "documents"), alpha=0.5)


@query(
    "vocab_bigrams",
    oracle=r"""
    WITH t AS (
        SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
    g AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM t)
    SELECT gram, CAST(count(*) AS BIGINT) AS cnt
    FROM g GROUP BY gram
    ORDER BY cnt DESC, gram LIMIT 50
    """,
)
def vocab_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams with occurrence counts (collocation /
    vocabulary mining): one explode into one hash aggregate — map-side
    partial aggregation absorbs the fan-out, then
    TakeOrderedAndProject picks the top 50 (no global sort).

    The aggregate GROUPS on the raw (w1, w2) token pair with a
    count-only buffer. String GROUP KEYS keep whole-stage
    HashAggregate (UnsafeRow var-len keys are fine — it is string
    aggregation BUFFERS that force SortAggregate), so the per-occurrence
    cost is one hash-map probe and no gram-string concat; the gram text
    is rebuilt by one concat per DISTINCT pair after the count. An
    earlier revision carried the words as first()-payload next to
    xxhash64 group keys — first(string)'s var-len buffer silently
    demoted BOTH aggregates to SortAggregate, i.e. a full
    O(n log n) sort of every exploded occurrence before aggregation:
    the r7 scale curve read 2.19x wall for 1.67x data at the sf100 step
    with exactly-linear shuffle bytes (845 MB, SQLMetrics) — the sort,
    not the shuffle, was the superlinear term. Hash-aggregated, sf100
    reads 11.5 s where the sorted plan read 53.0 s (min-of-2 fresh-JVM
    probes, adjacent sessions), and the sf60→sf100 step drops from
    3.3x to 1.24x for 1.67x data. The plan shape is pinned by
    tests/test_plan_shapes.py::test_vocab_bigrams_hash_aggregates."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    t = tokens("text")
    m = F.greatest(F.lit(0), F.size(t) - 1)
    pairs = F.zip_with(
        F.slice(t, 1, m), F.slice(t, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    hp = (
        d.select(F.explode(pairs).alias("g"))
        .groupBy("g.w1", "g.w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        hp.select(F.concat_ws(" ", "w1", "w2").alias("gram"), "cnt")
        .orderBy(F.desc("cnt"), "gram")
        .limit(50)
    )


def _bpe_oracle(rounds: int = 8) -> str:
    """Unrolled-CTE DuckDB replica of ``learn_bpe_merges`` (same pattern
    as the power-iteration / PageRank oracles): each round recomputes the
    weighted adjacent-pair counts from data, takes the same deterministic
    argmax (count DESC, "left right" ASC), and rewrites the vocabulary.

    The rewrite trick: each word is encoded as the concatenation of
    ``US + symbol + US`` units (US = chr(31), a char that cannot appear
    in whitespace-delimited tokens of this corpus), so the BPE merge of
    (l, r) is a plain non-overlapping left-to-right ``replace`` of
    ``US l US US r US`` with ``US lr US`` — the DOUBLE separator keeps
    adjacent matches independent ([a,a,a,a] → [aa,aa], not [aa,a,a]),
    which is exactly the left-to-right fold semantics of
    ``operators.bpe._merge_fold``. MATERIALIZED pins each round to run
    once (the chain is referenced twice per level)."""
    union = " UNION ALL ".join(
        f'SELECT CAST({r - 1} AS INTEGER) AS rank, l AS "left", r2 AS "right",'
        f" n AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + _bpe_ctes(rounds) + f" SELECT * FROM ({union}) ORDER BY rank"


def _bpe_ctes(rounds: int) -> str:
    """The shared merge-round CTE chain for both BPE oracles; carries the
    ``word`` key through every round so the final vocabulary can be joined
    back to the corpus (the learning oracle simply ignores it)."""
    ctes = ["""
v0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         chr(31) || array_to_string(string_split_regex(word, ''), chr(31)||chr(31))
         || chr(31) || chr(31) || '</w>' || chr(31) AS s
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""
p{r} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i+1] AS r2, SUM(cnt) AS n
  FROM (
    SELECT cnt, syms, unnest(generate_series(1, len(syms)-1)) AS i
    FROM (SELECT cnt, list_filter(string_split(s, chr(31)), x -> x <> '') AS syms
          FROM v{r-1})
  )
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (
  SELECT l, r2, CAST(n AS BIGINT) AS n FROM p{r}
  ORDER BY n DESC, l || ' ' || r2 ASC LIMIT 1
),
v{r} AS MATERIALIZED (
  SELECT word, cnt, replace(s,
      (SELECT chr(31)||l||chr(31)||chr(31)||r2||chr(31) FROM b{r}),
      (SELECT chr(31)||l||r2||chr(31) FROM b{r})) AS s
  FROM v{r-1}
)""")
    return ",".join(ctes)


def _bpe_segment_oracle(rounds: int = 8) -> str:
    """Oracle for applying the learned merge table corpus-wide: the final
    round's vocabulary v{rounds} IS each word type's segmentation, so the
    per-document readout is an explode-join-aggregate — no re-derivation
    of the fold on the corpus side."""
    return "WITH " + _bpe_ctes(rounds) + f"""
, wseg AS MATERIALIZED (
  SELECT word,
         CAST(len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS BIGINT)
             AS nsub,
         CAST(len(replace(s, chr(31), '')) AS BIGINT) AS nchars
  FROM v{rounds}
)
SELECT doc_id,
       CAST(SUM(nsub) AS BIGINT) AS n_subwords,
       CAST(SUM(nchars) AS BIGINT) AS n_sym_chars
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
) dw
JOIN wseg USING (word)
WHERE word <> ''
GROUP BY doc_id
"""


@query("vocab_bpe_merges", oracle=_bpe_oracle(8))
def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus (operators/bpe.py,
    Sennrich et al. 2016 re-expressed on DataFrames): the tokenizer-build
    step of a training-data pipeline. Corpus is touched ONCE (word-type
    vocab = tokenize + groupBy); every merge round then runs on the
    Heaps'-law-small (word, count) relation — explode adjacent symbol
    pairs, weighted count, deterministic argmax (count desc, pair asc),
    JVM-side sequential-fold rewrite. k rounds = k small jobs; lineage is
    kept flat with periodic localCheckpoint. Hash-certified: the oracle
    unrolls the 8 argmax-rewrite rounds as MATERIALIZED CTEs
    (``_bpe_oracle``), with the merge rewrite expressed as a
    double-separator string replace whose non-overlapping left-to-right
    semantics match the fold; tests/test_bpe.py additionally pins the
    operator against a pure-Python reference implementation, including
    partitioning-invariance."""
    from ..operators.bpe import bpe_merge_table

    return bpe_merge_table(spark, _t(spark, sf_dir, "documents"), num_merges=8)


@query("vocab_bpe_segment", oracle=_bpe_segment_oracle(8))
def vocab_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned 8-merge BPE table to the whole corpus
    (operators/bpe.py ``bpe_segment``): per document, subword count and
    total symbol chars — the compression readout that sizes tokenizer
    vocabularies before a training run. The corpus pass is one
    tokenize-explode + the rank-ordered JVM-side merge folds + groupBy
    doc; the merge table itself is the Heaps'-law-small learning loop.
    Hash-certified: the oracle's final CTE round v8 IS each word type's
    segmentation, so the corpus side of the oracle is a plain
    explode-join-aggregate (``_bpe_segment_oracle``) — any drift in fold
    semantics, merge order, or tie-breaks shifts per-doc counts and
    breaks the gate.

    The merge table is a tokenizer ARTIFACT: built once per corpus
    version at ingest, then served (``_derived_artifact``: content-keyed,
    atomically claimed — regenerating the fixture in place invalidates
    it). ``vocab_bpe_merges`` stays un-cached on purpose — it times the
    build itself."""
    import json
    import os

    from ..operators.bpe import bpe_segment, learn_bpe_merges

    d = _t(spark, sf_dir, "documents")

    def build(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "merges.json"), "w") as fh:
            json.dump(learn_bpe_merges(d, num_merges=8), fh)

    path = _derived_artifact(sf_dir, "documents", "bpe8", build)
    with open(os.path.join(path, "merges.json")) as fh:
        merges = [tuple(m) for m in json.load(fh)]
    return bpe_segment(d, merges)


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               md5('shard:' || CAST(doc_id AS VARCHAR)) AS m,
               CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                    1, 13))::BIGINT % 8 AS INT) AS shard
        FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY m) AS BIGINT)
               AS pos_in_shard
    FROM t
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + 8-way shard assignment
    (operators/curation.py ``shuffle_shards``) — the training-layout
    step that breaks source/time ordering reproducibly. Shard is a hash
    mod; pos_in_shard is the two-phase dense key over (shard, md5) —
    partition-count-invariant and never a per-shard global window (at
    100 TB a per-shard ROW_NUMBER would funnel corpus/8 rows through
    single tasks; the oracle's window IS that plan, which single-node
    DuckDB can afford)."""
    from ..operators.curation import shuffle_shards

    return shuffle_shards(_t(spark, sf_dir, "documents").select("doc_id"))


@query(
    "split_train_val_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment — hash-interval membership,
    stable under corpus growth; narrow projection, zero shuffle."""
    from ..operators.curation import assign_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return assign_split(d, {"train": 0.8, "val": 0.1, "test": 0.1})


@query(
    "winsorize_costs",
    oracle="""
    WITH q AS (
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.05) AS lo,
               quantile_cont(o_totalprice, 0.95) AS hi
        FROM orders GROUP BY o_orderstatus)
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           least(greatest(o_totalprice, lo), hi) AS winsorized
    FROM orders JOIN q USING (o_orderstatus)
    """,
)
def winsorize_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status cost winsorization at [p05, p95] (operators/profiling.py
    ``winsorize``): grouped exact-percentile bands join back broadcast,
    clip is a narrow projection."""
    from ..operators.profiling import winsorize

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    return winsorize(o, "o_totalprice", group_col="o_orderstatus")


@query(
    "inverted_index",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(text), '\s+')))
                   AS term
        FROM documents),
    g AS (
        SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
               array_to_string(list_sort(list(doc_id))[1:1000], ',') AS postings
        FROM t GROUP BY term)
    SELECT term, doc_freq, postings
    FROM g WHERE doc_freq >= 5
    ORDER BY doc_freq DESC, term LIMIT 100
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: per term, document frequency + the sorted
    posting list (capped at 1000 doc ids — real indexes segment long
    postings; the cap keeps a stopword's row bounded at any corpus
    size). One explode of per-doc DISTINCT terms into one hash
    aggregate; collect_list order is made deterministic by sort_array.
    Postings serialize comma-joined (arrow list nullability/field-name
    metadata differs between engines; values are what's checked).
    Top-100 terms by document frequency."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 1000), ","
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= 5)
        .orderBy(F.desc("doc_freq"), "term")
        .limit(100)
    )


@query(
    "skew_report",
    oracle="""
    WITH f AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey),
    s AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS nkeys
        FROM f)
    SELECT o_custkey, cnt,
           CAST(cnt AS DOUBLE) / (CAST(total AS DOUBLE) / nkeys) AS skew_ratio
    FROM f CROSS JOIN s
    ORDER BY cnt DESC, o_custkey LIMIT 20
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: the 20 hottest join/agg keys with
    their frequency and ratio to the mean key frequency — the table you
    read before deciding to salt (operators/skew.py). One keyed count
    (map-side combined) + a 1-row global stat broadcast; top-k via
    TakeOrderedAndProject."""
    o = _t(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    s = f.agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("nkeys"))
    return (
        f.crossJoin(F.broadcast(s))
        .select(
            "o_custkey", "cnt",
            (F.col("cnt").cast("double")
             / (F.col("total").cast("double") / F.col("nkeys"))).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "o_custkey")
        .limit(20)
    )


@query(
    "anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY o_orderstatus),
    dev AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               abs(o_totalprice - med) AS adev
        FROM orders JOIN med USING (o_orderstatus)),
    m2 AS (
        SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY o_orderstatus)
    SELECT o_orderkey, o_orderstatus, o_totalprice, adev / mad AS mad_score
    FROM dev JOIN m2 USING (o_orderstatus)
    WHERE mad > 0 AND adev / mad > 2.5
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier scores via median absolute deviation —
    unlike z-scores, medians need no distributed double sums (exact
    percentile parity is already pinned), and MAD tolerates the heavy
    tails cost data actually has. Plan: two tiny grouped percentile
    aggregates, each broadcast-joined back; the score is a narrow
    projection and the >2.5 filter bounds the output to true outliers."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med"))
    dev = o.join(med, "o_orderstatus").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"))
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(mad, "o_orderstatus")
        .filter((F.col("mad") > 0) & (F.col("adev") / F.col("mad") > 2.5))
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                (F.col("adev") / F.col("mad")).alias("mad_score"))
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS centroid
    FROM ex GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, computed declaratively: posexplode the
    embedding into (label, dim, value) and mean per cell — the IVF/KMeans
    seeding and cluster-summary primitive as ONE hash aggregate
    (map-side partial sums absorb the 64x row fan-out before the
    label×dim shuffle). Sums accumulate in DECIMAL(18,8): float32 inputs
    widen to double exactly, so the distributed mean is bit-identical to
    the sequential oracle."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            (F.sum(F.col("v").cast("double").cast("decimal(18,8)")).cast("double")
             / F.count(F.lit(1))).alias("centroid"))
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid")
    )


@query(
    "decile_boundaries",
    oracle="""
    WITH q AS (
        SELECT quantile_cont(o_totalprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM orders)
    SELECT CAST(i AS INTEGER) AS decile, qs[i] AS boundary
    FROM q CROSS JOIN generate_series(1, 9) AS t(i)
    """,
)
def decile_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram boundaries: the nine cost deciles in ONE
    percentile aggregate (a single pass; array result posexplodes into
    rows) — the bucket-boundary table an equi-depth binning or monotonic
    feature transform joins against. Exact here for the oracle; at
    100 TB the same shape runs on approx_percentile."""
    o = _t(spark, sf_dir, "orders")
    fracs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    return (
        o.agg(F.percentile("o_totalprice", fracs).alias("qs"))
        .select(F.posexplode("qs").alias("pos", "boundary"))
        .select((F.col("pos") + 1).cast("int").alias("decile"), "boundary")
    )


@query(
    "ewma_customer_spend",
    oracle="""
    WITH s AS (
        SELECT o_custkey,
               list(o_totalprice ORDER BY o_orderdate, o_orderkey) AS vals
        FROM orders GROUP BY o_custkey)
    SELECT o_custkey,
           CAST(len(vals) AS INTEGER) AS n_points,
           list_reduce(vals, (a, b) -> CAST(0.3 AS DOUBLE) * b
                                       + CAST(0.7 AS DOUBLE) * a) AS ewma
    FROM s
    """,
)
def ewma_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-patient exponentially smoothed spend (alpha=0.3): the
    order-sequential recurrence folds a sorted per-group array with a
    native aggregate lambda (operators/temporal.py grouped_ewma) —
    bit-identical to the single-threaded oracle because the fold order
    and the float literals are pinned on both sides."""
    from ..operators.temporal import grouped_ewma

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    return grouped_ewma(o, "o_totalprice", ["o_orderdate", "o_orderkey"],
                        "o_custkey", alpha=0.3, beta=0.7)


@query(
    "join_size_estimate",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt_a
        FROM orders GROUP BY o_custkey),
    b AS (
        SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS cnt_b
        FROM customer GROUP BY c_custkey)
    SELECT CAST(sum(cnt_a * cnt_b) AS BIGINT) AS join_rows,
           CAST(count(*) AS BIGINT) AS common_keys,
           CAST(max(cnt_a * cnt_b) AS BIGINT) AS max_key_pairs
    FROM a JOIN b USING (k)
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality diagnostics: the exact output size a
    customer⋈orders join would produce, its common-key count, and the
    worst single key's pair count — the numbers that decide broadcast vs
    shuffle vs salt BEFORE paying for the join. Two keyed counts (each a
    fraction of the real join's width) joined on the key; at 100 TB the
    same shape runs on a sample or with approx_count_distinct sketches,
    this exact form doubles as the calibration oracle."""
    o = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("cnt_a"))
    c = _t(spark, sf_dir, "customer").groupBy(
        F.col("c_custkey").alias("k")).agg(F.count(F.lit(1)).alias("cnt_b"))
    pairs = F.col("cnt_a") * F.col("cnt_b")
    return o.join(c, "k").agg(
        F.sum(pairs).alias("join_rows"),
        F.count(F.lit(1)).alias("common_keys"),
        F.max(pairs).alias("max_key_pairs"),
    )


@query(
    "trend_slope_per_customer",
    oracle="""
    WITH g AS (
        SELECT o_custkey AS customer_id, count(*) AS n,
               sum(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS sx,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS sy,
               sum(CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                        * o_totalprice AS DECIMAL(28,2))) AS sxy,
               sum(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   * date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS sxx
        FROM orders GROUP BY o_custkey)
    SELECT customer_id, n AS visit_count,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                END AS cost_trend_slope
    FROM g
    """,
)
def trend_slope_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer OLS cost-trend slope via the closed form with exact
    decimal sums (operators.grouped.trend_slope_native) - the native twin
    of the applyInPandas grouped-map fit, cross-validated in tests."""
    from ..operators.grouped import trend_slope_native

    o = _t(spark, sf_dir, "orders")
    out = trend_slope_native(o, "o_custkey", "o_orderdate", "o_totalprice")
    return out.withColumnRenamed("o_custkey", "customer_id")


@query(
    "cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER)
               AS week_offset,
           count(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the event log: cohort = week of
    a user's first event; cell (cohort, offset) = distinct users of that
    cohort active offset weeks later. The product-analytics staple the
    reference's visit-frequency cohorts (analytics_examples.sql CASE
    buckets) stop short of.

    Scale shape: both inputs aggregate BEFORE the join — first-touch is a
    user-keyed groupBy (map-side combine), activity is a distinct on
    (user, week) — then first⋈activity co-shuffles on user_id (both sides
    already user-partitioned, AQE may broadcast the smaller), and the
    final groupBy is over (cohort, offset) — bounded by weeks². No
    full-event-log join anywhere."""
    from ..sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "funnel_dropoff",
    oracle="""
    WITH step AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (t_signup IS NOT NULL) AS n_signup,
           count(*) FILTER (t_view > t_signup) AS n_view_after_signup,
           count(*) FILTER (t_purchase > t_view AND t_view > t_signup)
               AS n_full_funnel
    FROM step
    """,
)
def funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch funnel drop-off (signup → view → purchase, strictly ordered
    first-touch times): distinct users reaching each stage. The batch
    twin of the stream-stream interval join (stream_funnel_pairs) at the
    user grain: ONE user-keyed aggregate pivots each user's first-touch
    per step (conditional min — no self-joins of the event log), then a
    global count. Event-log-sized shuffle count: exactly one."""
    from ..sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    step = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return step.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(F.col("t_view") > F.col("t_signup"), 1)).alias("n_view_after_signup"),
        F.count(F.when((F.col("t_purchase") > F.col("t_view"))
                       & (F.col("t_view") > F.col("t_signup")), 1)).alias("n_full_funnel"),
    )


def _pii_oracle() -> str:
    from ..operators.text import PII_PATTERNS

    clean = "text"
    for _, pattern, tag in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pattern}', '{tag}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{name}"
        for name, p, _ in PII_PATTERNS
    )
    return f"SELECT doc_id, {clean} AS clean_text, {counts} FROM documents"


@query("text_redact_pii", oracle=_pii_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrub: emails/SSNs/phones/IPv4s replaced with typed tags
    plus per-class hit counts (operators/text.py redact_pii — chained
    native regexp_replace, replace-all, whole-stage codegen; the patterns
    are restricted to Java-regex ∩ RE2 syntax so the DuckDB oracle runs
    the IDENTICAL literals). Narrow projection only — at 100 TB this is a
    map-only stage, no shuffle."""
    from ..operators.text import PII_PATTERNS, redact_pii

    d = _t(spark, sf_dir, "documents")
    guard = F.col("text").rlike("[0-9@]")  # no pattern matches without one
    return d.select(
        "doc_id",
        redact_pii("text").alias("clean_text"),
        *[
            F.when(guard, F.regexp_count(F.col("text"), F.lit(p)))
            .otherwise(0).cast("long").alias(f"n_{name}")
            for name, p, _ in PII_PATTERNS
        ],
    )


@query(
    "agg_incremental_merge",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           {_osum('o_totalprice')} AS sum_v,
           {_osum('o_totalprice')} / count(*) AS avg_v,
           min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): three
    date-sliced 'loads' of the fact are partial-aggregated independently,
    their compact per-key states merged (union + monoid re-agg over
    state-sized input), and the merged state finalized — provably equal to
    aggregating the whole table at once (the oracle does exactly that).
    The pattern that replaces the reference's full-refresh dbt models at
    100 TB: each load is scanned once, ever."""
    from ..operators.incremental import finalize, merge_states, partial_agg

    o = _t(spark, sf_dir, "orders")
    loads = [
        o.filter(F.col("o_orderdate") < "1994-01-01"),
        o.filter((F.col("o_orderdate") >= "1994-01-01")
                 & (F.col("o_orderdate") < "1996-01-01")),
        o.filter(F.col("o_orderdate") >= "1996-01-01"),
    ]
    states = [partial_agg(load, ["o_orderstatus"], "o_totalprice") for load in loads]
    return finalize(merge_states(*states))


@query(
    "pivot_status_by_year",
    oracle="""
    SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS order_year,
           count(*) FILTER (o_orderstatus = 'F') AS cnt_F,
           count(*) FILTER (o_orderstatus = 'O') AS cnt_O,
           count(*) FILTER (o_orderstatus = 'P') AS cnt_P
    FROM orders GROUP BY 1
    """,
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by status across years. The pivot values are
    EXPLICIT — ``pivot(col, values)`` without values makes Spark run a
    distinct-collect job over the column first (an extra full pass +
    driver collect; unbounded if the column is miscategorized). With the
    value list pinned, the pivot compiles to conditional aggregation —
    exactly the oracle's FILTER form — in one pass."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    renamed = out.select(
        "order_year",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"cnt_{s}") for s in ("F", "O", "P")],
    )
    return renamed


@query(
    "unpivot_kpis",
    oracle=f"""
    WITH k AS (
        SELECT (SELECT count(DISTINCT c_custkey) FROM customer) AS total_patients,
               (SELECT count(DISTINCT s_suppkey) FROM supplier) AS total_providers,
               v.total_visits, v.avg_cost
        FROM (SELECT count(*) AS total_visits,
                     {_oround(_oavg('o_totalprice'))} AS avg_cost
              FROM orders) v
    )
    SELECT metric, value FROM (
        SELECT 'total_patients' AS metric, CAST(total_patients AS DOUBLE) AS value FROM k
        UNION ALL SELECT 'total_providers', CAST(total_providers AS DOUBLE) FROM k
        UNION ALL SELECT 'total_visits', CAST(total_visits AS DOUBLE) FROM k
        UNION ALL SELECT 'avg_cost', avg_cost FROM k
    )
    """,
)
def unpivot_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide 4-KPI card flipped to tidy (metric, value)
    rows — the shape dashboards and metric stores ingest. ``unpivot`` is
    a generator projection over the already-1-row KPI block: zero extra
    scans beyond kpi_block's single fact pass."""
    wide = kpi_block(spark, sf_dir)
    casted = wide.select(*[F.col(c).cast("double").alias(c) for c in wide.columns])
    return casted.unpivot(
        ids=[], values=["total_patients", "total_providers",
                        "total_visits", "avg_cost"],
        variableColumnName="metric", valueColumnName="value",
    )


@query(
    "dq_rules_orders",
    oracle="""
    SELECT 'not_null' AS rule, 'o_orderkey' AS col_name,
           count(*) FILTER (o_orderkey IS NULL) AS n_violations,
           count(*) FILTER (o_orderkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus',
           count(*) FILTER (o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('F', 'O', 'P')),
           count(*) FILTER (o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('F', 'O', 'P')) = 0
    FROM orders
    UNION ALL
    SELECT 'in_range', 'o_totalprice',
           count(*) FILTER (o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 600000)),
           count(*) FILTER (o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 600000)) = 0
    FROM orders
    UNION ALL
    SELECT 'matches', 'o_orderpriority',
           count(*) FILTER (o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-')),
           count(*) FILTER (o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) = 0
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey', v, v = 0 FROM (
        SELECT CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS v FROM (
            SELECT count(*) AS cnt FROM orders WHERE o_orderkey IS NOT NULL
            GROUP BY o_orderkey HAVING count(*) > 1))
    UNION ALL
    SELECT 'relationships', 'o_custkey', v, v = 0 FROM (
        SELECT count(*) AS v FROM orders o
        WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    """,
)
def dq_rules_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ contract on the fact (operators/dq.py — the
    engine-side dbt test suite, dbt_project/models' not_null / unique /
    accepted_values / relationships): four row-local rules fused into ONE
    conditional-aggregation scan, plus a two-phase key-count for unique
    and one anti-join for the customer FK. The oracle evaluates each rule
    as its own SQL check — same report, N scans instead of 1."""
    from ..operators.dq import Rule, dq_check

    o = _t(spark, sf_dir, "orders")
    return dq_check(
        o,
        [
            Rule("not_null", "o_orderkey"),
            Rule("accepted_values", "o_orderstatus", ("F", "O", "P")),
            Rule("in_range", "o_totalprice", (0, 600_000)),
            Rule("matches", "o_orderpriority", r"^[1-5]-"),
            Rule("unique", "o_orderkey"),
            Rule("relationships", "o_custkey", ("customer", "c_custkey")),
        ],
        ref_tables={"customer": _t(spark, sf_dir, "customer")},
    )


@query(
    "event_sessionize",
    oracle="""
    WITH x AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                     OR CAST(ts AS TIMESTAMP)
                        - lag(CAST(ts AS TIMESTAMP)) OVER w
                        >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT event_id, user_id, ts,
           user_id || '-' || CAST(sum(new_s) OVER
               (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS VARCHAR)
               AS session_id
    FROM x
    """,
)
def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-ID ASSIGNMENT (not just counts — stream_session_count's
    row-preserving sibling): gap-based sessionization via the lag/cumsum
    idiom, labeling every event with ``user-<seq>``. Both windows
    partition by user_id — parallel across users at any scale, with the
    two window functions sharing ONE sort/shuffle (same partition+order
    spec, fused by Catalyst into a single WindowExec)."""
    from ..sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap test in exact epoch MICROseconds (unix_timestamp would truncate
    # to whole seconds: a 1799.4s gap reads as exactly 1800 and falsely
    # splits the session — caught by the sf0.1 oracle sweep). The session
    # runs in UTC (session.py), so the NTZ→LTZ hop inside unix_micros is
    # the identity and the subtraction is TZ-independent regardless.
    prev = F.lag("ts").over(w)
    gap_us = (F.unix_micros(F.col("ts").cast("timestamp"))
              - F.unix_micros(prev.cast("timestamp")))
    new_s = F.when(
        prev.isNull() | (gap_us >= 1800 * 1_000_000), 1,
    ).otherwise(0)
    return (
        ev.select("event_id", "user_id", "ts", new_s.alias("new_s"))
        .withColumn(
            "session_id",
            F.concat_ws(
                "-", F.col("user_id"),
                F.sum("new_s").over(
                    Window.partitionBy("user_id").orderBy("ts", "event_id")
                ).cast("string"),
            ),
        )
        .drop("new_s")
    )


@query(
    "hll_users_rollup",  # DataSketches HLL binary ≠ hash oracle
    # tolerance-mode oracle (local gate): weekly estimates within 10% of
    # the exact rollup (pytest pins 5%; the gate band leaves margin)
    soft_oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_est
    FROM events GROUP BY 1 ORDER BY week
    """,
    rel_tolerance=0.10,
)
def hll_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct counting via stored sketches
    (operators/sketches.py HLL half): per-day user sketches (the
    ingest-time artifact — one binary row per day) rolled up to per-week
    distinct-user estimates by UNIONING SKETCHES, never rescanning
    events. Accuracy is pytest-pinned within 5% of exact
    (tests/test_sketches.py); exact certified twin: agg_count_distinct /
    stream_session_count."""
    from ..operators.sketches import build_hll_sketches, hll_rollup
    from ..sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    )
    daily = build_hll_sketches(ev, "user_id", ["week", "day"])
    return hll_rollup(daily, ["week"]).orderBy("week")


@query(
    "histogram_totalprice",
    oracle="""
    WITH s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
    SELECT CAST(LEAST(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20) ) AS INTEGER),
                 19) AS INTEGER) AS bucket,
           count(*) AS cnt
    FROM orders, s
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of the cost measure — the
    distribution half of the profiling layer (profile_lineitem has the
    scalar stats). Two-pass shape: a scalar (min,max) aggregate feeds the
    bucket expression (scalar subquery → literal after the first tiny
    job), then one map-side-combining groupBy; the 100 TB cost is two
    scans of one column, no sort, no driver data."""
    o = _t(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    if lo is None:  # empty input (backfill edge): empty frame, same schema
        return o.select(F.lit(0).alias("bucket"),
                        F.lit(0).cast("long").alias("cnt")).limit(0)
    width = (hi - lo) / 20
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(19),
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "corr_measures",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_extendedprice, l_discount), 6) AS corr_price_discount,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_discount
    FROM lineitem
    """,
)
def corr_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation / sample covariance across fact
    measures in ONE aggregation pass (the feature-engineering sanity
    matrix). Spark's corr/covar_samp use the numerically-stable one-pass
    co-moment update and merge partials across partitions — same
    algorithm DuckDB runs single-threaded, so results agree to ~1e-12;
    rounded to 6dp to pin down the last-ulp merge-order wiggle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_discount"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_discount"),
    )


@query(
    "entity_match_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def entity_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution stage 1+2 (operators/entity.py — the
    master-patient-index primitive the reference's trusted patient_id
    skips): name-prefix blocking bounds the pair space to
    within-block², then native banded levenshtein (threshold arg →
    early-exit DP) keeps pairs within 1 edit. Stage 3 is
    ``graph.connected_components`` over these pairs, certified by
    graph_components_* and tests/test_entity.py's transitive-closure
    case."""
    from ..operators.entity import candidate_pairs

    c = _t(spark, sf_dir, "customer")
    return candidate_pairs(
        c, "c_custkey", "c_name", F.substring("c_name", 1, 16), max_edit=1
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("dist").cast("int").alias("dist"),
    )


@query(
    "cdc_orders_diff",
    oracle="""
    WITH o_old AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        WHERE year(o_orderdate) <= 1994),
    o_new AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 97 = 0 THEN 'X-UPDATED'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE year(o_orderdate) BETWEEN 1993 AND 1995),
    j AS (
        SELECT coalesce(o_old.o_orderkey, o_new.o_orderkey) AS o_orderkey,
               o_old.o_orderkey IS NULL AS ins,
               o_new.o_orderkey IS NULL AS del,
               (o_old.o_totalprice IS DISTINCT FROM o_new.o_totalprice) AS d1,
               (o_old.o_orderpriority IS DISTINCT FROM o_new.o_orderpriority) AS d2
        FROM o_old FULL OUTER JOIN o_new ON o_old.o_orderkey = o_new.o_orderkey)
    SELECT o_orderkey,
           CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
                ELSE 'update' END AS change_type,
           CASE WHEN NOT ins AND NOT del THEN
                    concat_ws(',', CASE WHEN d1 THEN 'o_totalprice' END,
                                   CASE WHEN d2 THEN 'o_orderpriority' END)
                ELSE '' END AS changed_cols
    FROM j
    WHERE ins OR del OR d1 OR d2
    """,
)
def cdc_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/cdc.py): the 'old' warehouse state is
    orders ≤ 1994, the 'new' extract is 1993–1995 with a deterministic
    priority rewrite on keys % 97 — so the diff exercises all three change
    types at once (1995 inserts, 1992 deletes, rewritten updates with a
    changed-column list). One full-outer shuffle join on the key."""
    from ..operators.cdc import table_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.year("o_orderdate") <= 1994).select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    new = o.filter(F.year("o_orderdate").between(1993, 1995)).select(
        "o_orderkey", "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X-UPDATED"))
        .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
    )
    return table_diff(old, new, ["o_orderkey"],
                      compare_cols=["o_totalprice", "o_orderpriority"])


@query(
    "boilerplate_ngram_share",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(toks) - 4),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 5),
    gdf AS (SELECT gram, count(*) AS d FROM sh GROUP BY gram)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN d >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(sum(CASE WHEN d >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS common_share
    FROM sh JOIN gdf USING (gram)
    GROUP BY doc_id
    """,
)
def boilerplate_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage (boilerplate) signal: share of each doc's 5-gram
    phrases appearing in >= 3 distinct documents
    (operators/decontamination.py common_phrase_report; threshold 3 so
    the synthetic corpus produces a spread). Explode + gram-frequency
    aggregate + gram-keyed join — never doc-pairwise."""
    from ..operators.decontamination import common_phrase_report
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return common_phrase_report(d, n=5, common_df=3)


@query(
    "decontamination_report",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 4),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 5
    ),
    ev AS (SELECT DISTINCT unnest(sh) AS gram FROM t WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, unnest(sh) AS gram FROM t WHERE doc_id % 10 != 0)
    SELECT doc_id, count(*) AS n_hits
    FROM tr JOIN ev USING (gram)
    GROUP BY doc_id
    """,
)
def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontamination.py — the
    GPT-3-style n-gram overlap scrub, here at 5-gram granularity so the
    synthetic corpus produces hits): docs whose id % 10 == 0 stand in for
    the eval set; every 'training' doc sharing a 5-gram with it is
    reported with its hit count. Plan: eval grams are one explode +
    distinct (compact), the train side explodes and hash-joins on the
    gram — AQE broadcasts the eval-gram set while it fits; no pairwise
    document comparison exists anywhere."""
    from ..operators.decontamination import contamination_report, eval_ngrams
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    tr = d.filter(F.col("doc_id") % 10 != 0)
    return contamination_report(tr, eval_ngrams(ev, n=5), n=5)

@query(
    "decontamination_semantic",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ev AS (SELECT * FROM e WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 10 != 0)
    SELECT tr.vec_id AS doc_id, count(*) AS n_hits,
           max(list_cosine_similarity(tr.emb, ev.emb)) AS max_cosine
    FROM tr JOIN ev ON list_cosine_similarity(tr.emb, ev.emb) >= 0.3
    GROUP BY tr.vec_id
    """,
)
def decontamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram scrub (``decontamination_report``): a training doc is flagged
    when its embedding sits within cosine ≥ 0.3 of ANY eval doc, which
    catches paraphrased benchmark leakage that exact n-grams miss.
    Same pseudo-eval convention (vec_id % 10 == 0); per flagged train
    doc: hit count + its max eval cosine (the triage ordering).

    Runs through ``cosine_pairs_blas`` (one corpus-wide block at gate
    scale — exact GEMM-prescreened pairs, bit-matching the DuckDB cross
    join), then keeps only cross-side pairs and aggregates per train
    doc. At 100 TB the pair generator swaps for the IVF route: index the
    (small) eval set's lists and probe every train doc — ann_knn_join's
    decomposition with the eval set as the member side, linear in the
    corpus."""
    from ..operators.similarity import cosine_pairs_blas

    e = _t(spark, sf_dir, "embeddings").withColumn("__all", F.lit(1))
    pairs = cosine_pairs_blas(
        e, block_col="__all", id_col="vec_id", vec_col="embedding",
        threshold=0.3)
    is_ev_a = F.col("id_a") % 10 == 0
    is_ev_b = F.col("id_b") % 10 == 0
    crossed = pairs.filter(is_ev_a != is_ev_b)
    train_id = F.when(is_ev_a, F.col("id_b")).otherwise(F.col("id_a"))
    return (
        crossed.select(train_id.alias("doc_id"),
                       F.col("cosine_sim"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"),
             F.max("cosine_sim").alias("max_cosine"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    WITH src AS (
        SELECT c_mktsegment, year(o_orderdate) AS yr, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT coalesce(c_mktsegment, 'ALL') AS seg,
           coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
           CAST(count(*) AS BIGINT) AS n_visits,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_cost
    FROM src
    GROUP BY GROUPING SETS ((c_mktsegment, yr), (c_mktsegment), (yr), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the reference's stacked summary reports —
    per-segment/year, per-segment, per-year, grand total — as ONE
    aggregate; reference builds each level as a separate query in
    analytics_queries.sql). Spark plans a single Expand + hash aggregate:
    one fact scan feeds all four grouping levels, vs four scans for the
    reference's approach. NULL group keys are disambiguated to 'ALL'
    post-aggregate (customer segments are non-null, so no collision)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    src = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", F.year("o_orderdate").alias("yr"), "o_totalprice")
    g = src.groupingSets(
        [["c_mktsegment", "yr"], ["c_mktsegment"], ["yr"], []],
        "c_mktsegment", "yr",
    ).agg(
        F.count(F.lit(1)).alias("n_visits"),
        dsum("o_totalprice").alias("total_cost"),
    )
    return g.select(
        F.coalesce("c_mktsegment", F.lit("ALL")).alias("seg"),
        F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("yr"),
        "n_visits", "total_cost",
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH ex AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    mm AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
    q AS (
        SELECT label, v,
               CASE WHEN mx > mn
                    THEN floor(((v - mn) / (mx - mn)) * 255.0 + 0.5)
                    ELSE 0.0 END AS code,
               mn, mx
        FROM ex JOIN mm USING (dim))
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vals,
           max(abs(v - (mn + (code * (mx - mn)) / 255.0))) AS max_abs_err,
           CAST(sum(CAST(code AS DECIMAL(18,4))) AS DOUBLE) / count(*)
               AS avg_code
    FROM q GROUP BY label
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8-style) embedding quantization — the storage path for
    ANN at 100 TB (4x smaller vectors before IVF/LSH; see
    operators/similarity.py). Per-dimension global [min,max] -> 256-level
    code -> reconstruction; reports per-label worst-case reconstruction
    error and mean code. Plan: posexplode + per-dim aggregate (bounded by
    dimensionality, broadcastable by AQE on size) + hash aggregate —
    codes are exact small integers, so their DECIMAL sum is
    bit-reproducible; max|err| avoids distributed double-sum ordering.
    floor(x + 0.5) not F.round: IEEE-identical in both engines."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "vf"),
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    mm = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = e.join(mm, "dim")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor(((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")))
                * F.lit(255.0) + F.lit(0.5)).cast("double"),
    ).otherwise(F.lit(0.0))
    q = j.select("label", "v", "mn", "mx", code.alias("code"))
    recon = F.col("mn") + (F.col("code") * (F.col("mx") - F.col("mn"))) / F.lit(255.0)
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.max(F.abs(F.col("v") - recon)).alias("max_abs_err"),
        (dsum("code") / F.count(F.lit(1))).alias("avg_code"),
    )


@query(
    "quality_bigram_lm",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM t WHERE len(toks) >= 2),
    w AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM bg),
    cb AS (SELECT gram, count(*) AS c_bi FROM w GROUP BY gram),
    cu AS (SELECT w1, count(*) AS c_start FROM w GROUP BY w1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(CAST(c_bi AS DOUBLE) / CAST(c_start AS DOUBLE)
                         AS DECIMAL(24,12))) AS DOUBLE) / count(*)
               AS familiarity
    FROM w JOIN cb USING (gram) JOIN cu USING (w1)
    GROUP BY doc_id
    """,
)
def quality_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model familiarity — a cheap
    perplexity stand-in used as a pre-training quality signal (docs made
    of globally common word transitions score high; gibberish scores
    low). P(w2|w1) = count(w1 w2) / count(w1-as-bigram-start), averaged
    per document (over occurrences).

    Plan: the corpus explodes ONCE, immediately collapsing to
    (doc_id, gram, n_occ) — the only occurrence-level shuffle in the
    query; every later stage (global gram counts, the start-word
    denominator, the rate join-back, the per-doc rollup) moves
    distinct-gram rows, which Zipfian text shrinks ~an order of
    magnitude below occurrences. The denominator is NOT another corpus
    pass — count(w1) = sum of c_bi over grams sharing w1, a
    vocabulary-sized aggregate of the count table itself. AQE decides
    broadcast vs shuffle for the rate join from the vocabulary's size.

    The collapsed relation feeds TWO consumers (the global count table
    and the join-back), but its aggregation is partition-local over the
    spread() layout (HashPartitioning(doc_id) satisfies the composite
    grouping), so there is no exchange for ReuseExchange to dedupe —
    without intervention the tokenize-explode-aggregate chain runs once
    PER CONSUMER. Above CHECKPOINT_REUSE_CUTOVER_BYTES of input,
    localCheckpoint materializes it once instead: one linear write of
    the same bytes a reuse-exchange would have moved, measured at sf10
    11.8 s → 9.3 s steady-state (an explicit repartition-for-reuse was
    tried and loses: shuffling the occurrence-collapsed rows costs more
    than the recompute it saves, 13.2 s; the remaining time is the one
    spread shuffle of the corpus text plus the single explode-aggregate
    pass, both irreducible for these semantics). Below the cutover the
    recompute is cheaper than the materialization and the checkpoint is
    skipped — bench showed it costing +0.6 s at sf0.1 and +5 s inside
    the sf1 38-query run (same size-gated-physical-plan discipline as
    join_3way).

    Exactness: the per-occurrence DECIMAL(24,12) sum the oracle
    computes equals n_occ × the rounded term exactly (a decimal times
    an integer is exact), so the weighted form is bit-identical while
    summing far fewer rows. Gram identity is the (h1, h2) token-hash
    pair (``text.ngram_hashes``) — the output never exposes gram text,
    so grouping/joining moves fixed-width longs instead of gram strings
    (~2x measured at sf1), and the start-word denominator is a groupBy
    on h1 with no string split. Counts match the oracle's string grams
    absent a 64-bit token-hash collision (~1e-9 at this vocabulary)."""
    from ..config import CHECKPOINT_REUSE_CUTOVER_BYTES
    from ..operators.skew import relation_size_bytes, spread
    from ..operators.text import ngram_hashes

    docs = _t(spark, sf_dir, "documents")
    d = spread(docs, "doc_id")
    wd = (
        d.select("doc_id", F.explode(ngram_hashes("text", 2)).alias("g"))
        .select("doc_id", "g.h1", "g.h2")
        .groupBy("doc_id", "h1", "h2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    if relation_size_bytes(docs) > CHECKPOINT_REUSE_CUTOVER_BYTES:
        wd = wd.localCheckpoint(eager=False)
    cb = wd.groupBy("h1", "h2").agg(F.sum("n_occ").alias("c_bi"))
    cs = cb.groupBy("h1").agg(F.sum("c_bi").alias("c_start"))
    rate = cb.join(cs, "h1").select(
        "h1", "h2",
        (F.col("c_bi").cast("double")
         / F.col("c_start").cast("double")).alias("term"),
    )
    return (
        wd.join(rate, ["h1", "h2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            # n_occ as DECIMAL(10,0), not bare long: decimal(24,12) ×
            # long promotes to precision 45 > 38 and Spark rescues it by
            # TRUNCATING THE SCALE (precision-loss rule) — (35,12) stays
            # exact, keeping the weighted sum bit-equal to the oracle's
            # per-occurrence sum
            (F.sum(F.col("term").cast("decimal(24,12)")
                   * F.col("n_occ").cast("decimal(10,0)"))
             .cast("double") / F.sum("n_occ")).alias("familiarity"),
        )
    )

@query(
    "quality_repetition_ratio",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    tg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i] || ' ' || toks[i+1] || ' '
                                          || toks[i+2])) AS gram
        FROM t WHERE len(toks) >= 3),
    c AS (SELECT doc_id, gram, count(*) AS n FROM tg GROUP BY doc_id, gram)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_trigrams,
           CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS rep_ratio
    FROM c GROUP BY doc_id
    """,
)
def quality_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram repetition ratio per document — the Gopher-style
    repetition filter (Rae et al. 2021 §A1.1: drop documents whose most
    frequent n-gram covers too much of the text; boilerplate and
    SEO-spam score near 1, prose near 1/n_trigrams).

    Plan: one corpus explode collapsing immediately to (doc, gram)
    counts — the only occurrence-level shuffle — then a doc-level
    rollup of the (much smaller) distinct-gram rows. The ratio
    max(n)/sum(n) is a single IEEE double division of two exact
    integers, so the score is hash-matched bit for bit (no libm).
    Documents with fewer than 3 tokens have no trigrams and are
    excluded by construction on both sides (ngrams yields an empty
    array; the oracle filters len >= 3). Trigram identity is the
    (h1,h2,h3) token-hash tuple (``text.ngram_hashes`` — counts only,
    no gram text in the output), so the per-doc aggregate hashes longs
    instead of built concat strings."""
    from ..operators.skew import spread
    from ..operators.text import ngram_hashes

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    c = (
        d.select("doc_id", F.explode(ngram_hashes("text", 3)).alias("g"))
        .select("doc_id", "g.h1", "g.h2", "g.h3")
        .groupBy("doc_id", "h1", "h2", "h3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.groupBy("doc_id").agg(
        F.sum("n").alias("n_trigrams"),
        (F.max("n").cast("double") / F.sum("n").cast("double")).alias("rep_ratio"),
    )


@query(
    "exists_semijoin",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
    """,
)
def exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS as a LEFT SEMI join (patients with at least one
    urgent high-cost visit — the reference's patient-flagging subqueries,
    query_builder.py). Semi join never duplicates or widens the probe
    side: the build side is pre-filtered and deduplicates inside the
    join, so the output is customer rows verbatim. Filter is pushed to
    the orders scan; AQE picks broadcast vs shuffle from the filtered
    size (no hint — the filtered set shrinks much faster than the
    table grows, but that is a stats decision, not ours)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000))
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "timeseries_gapfill",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      {_osum('o_totalprice')} AS daily
               FROM orders GROUP BY 1),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
    cal AS (
        SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                           CAST(mx AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM b)
    SELECT cal.day,
           coalesce(daily, CAST(0 AS DOUBLE)) AS revenue,
           daily IS NULL AS is_gap
    FROM cal LEFT JOIN d USING (day)
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling: a dense daily revenue series with zero-fill
    on days that had no visits (resampling before any rolling-window
    analytics — a sparse series silently shrinks ROWS BETWEEN frames).
    Plan: daily pre-aggregate (one shuffle), a 2-value global min/max,
    sequence()+explode builds the calendar spine (rows = days elapsed,
    independent of data volume), left join back. The spine side is tiny
    forever, so this is AQE-broadcast territory at any scale."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("daily"))
    spine = (
        d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    return spine.join(d, "day", "left").select(
        "day",
        F.coalesce("daily", F.lit(0.0)).alias("revenue"),
        F.col("daily").isNull().alias("is_gap"),
    )

@query(
    "in_grouped_subquery",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           CAST(qty AS DOUBLE) AS total_qty
    FROM orders JOIN (
        SELECT l_orderkey, {_osum('l_quantity')} AS qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {_osum('l_quantity')} > 150
    ) big ON o_orderkey = l_orderkey
    """,
)
def in_grouped_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — keys IN (grouped-HAVING subquery): visits whose
    total line quantity exceeds a threshold (the reference's
    'high-utilization patients' listing, query_builder.py threshold
    params). The membership set is produced by a partial-aggregated
    groupBy on the fact itself, then joined back on the key — both sides
    co-partition on l_orderkey/o_orderkey so AQE plans one shuffle for
    the aggregate and reuses-or-broadcasts the (HAVING-shrunk) key set
    for the join. No hint: how much HAVING shrinks is a stats question."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")


@query(
    "timeseries_locf",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      {_osum('o_totalprice')} AS daily
               FROM orders WHERE o_orderpriority = '1-URGENT'
               GROUP BY 1),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
    cal AS (
        SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                           CAST(mx AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM b),
    sparse AS (SELECT cal.day, daily FROM cal LEFT JOIN d USING (day))
    SELECT day, daily IS NULL AS was_gap,
           last_value(daily IGNORE NULLS) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS revenue_locf
    FROM sparse
    """,
)
def timeseries_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last observation carried forward) over the dense
    calendar: gaps inherit the most recent observed value instead of
    zero — the resampling mode for level-style series (census, balance)
    vs gapfill's zero-fill for flow-style series. Spark and DuckDB both
    implement last_value(IGNORE NULLS) over a running frame; the window
    is global but runs over the day-grain spine (rows = elapsed days,
    not data volume), the same safe shape as window_moving_avg."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("daily"))
    spine = (
        d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    sparse = spine.join(d, "day", "left")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return sparse.select(
        "day",
        F.col("daily").isNull().alias("was_gap"),
        F.last("daily", ignorenulls=True).over(w).alias("revenue_locf"),
    )

@query(
    "stream_trending_topk",
    oracle=f"""
    WITH h AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT window_start, event_type, cnt,
               CAST(rank() OVER (PARTITION BY window_start
                                 ORDER BY cnt DESC, event_type) AS INTEGER)
                   AS rnk
        FROM h)
    SELECT window_start, event_type, cnt, rnk FROM r WHERE rnk <= 3
    """,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types per hour (top-3 by count, rank with
    deterministic tiebreak) — batch twin of
    streaming.pipelines.streaming_trending_topk, whose live variant
    re-ranks each micro-batch snapshot in foreachBatch (rank over a
    streaming aggregate needs the window finished; the leaderboard sink
    is overwritten idempotently instead). The rank window partitions by
    window_start, so each hour sorts independently — no global sort at
    any scale."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import trending_topk, tumbling_hourly

    return trending_topk(tumbling_hourly(load_table(spark, sf_dir, "events")))

@query(
    "scan_orc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_totalprice > 100000
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip (sources/loaders.py write_orc/read_orc):
    the orders slice is written to ORC and scanned back; value-hash parity
    with the parquet-based oracle proves the format hop is lossless
    (int64 keys, doubles, dates). The filter runs on the ORC scan —
    Spark's vectorized ORC reader pushes predicates and prunes columns
    like parquet, so the plan keeps the shape the parquet path has."""
    import os as _os

    from ..config import SCRATCH_DIR
    from ..sources.loaders import orc_roundtrip

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
    path = _os.path.join(
        SCRATCH_DIR, f"orders_orc_{_os.path.basename(sf_dir.rstrip('/'))}")
    return orc_roundtrip(spark, o, path).filter(F.col("o_totalprice") > 100000)

@query(
    "attribution_last_touch",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                       event_type FROM events),
    p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS click_ts FROM ev WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.click_ts,
           c.click_ts IS NOT NULL AS attributed
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click at-or-before it (unmatched purchases stay, flagged
    unattributed) — the marketing/event-analytics twin of the clinical
    as-of join, certified against DuckDB's native ASOF LEFT JOIN. Spark
    has no asof operator; operators/temporal.py asof_join builds it as
    union + per-user ordered window with last(ignorenulls) carry-forward:
    one shuffle on user_id, state bounded per user, no range explosion
    (vs the interval-join formulation whose pair count grows with the
    lookback window)."""
    from ..operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(p, c, on="user_id", ts_col="ts",
                    right_ts_alias="click_ts")
    return out.select(
        "event_id", "user_id",
        F.col("ts").alias("purchase_ts"), "click_ts",
        F.col("click_ts").isNotNull().alias("attributed"),
    )

@query(
    "embedding_dim_scaler",
    oracle="""
    WITH ex AS (
        SELECT unnest(generate_series(1, len(embedding))) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mean_v,
           CAST(sum(CAST(v * v AS DECIMAL(18,8))) AS DOUBLE) / count(*)
               - (CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*))
               * (CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*))
               AS var_v
    FROM ex GROUP BY dim
    """,
)
def embedding_dim_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-dimension standardization stats (mean, population
    variance) — the scaler fit before quantization/IVF (dimensions with
    tiny variance carry no ANN signal; z-scoring needs exactly these).
    One posexplode + one hash aggregate keyed by dim (bounded by
    dimensionality). Both moments accumulate as DECIMAL(18,8) so the
    distributed sums are order-independent; the variance is composed
    from them in one fixed double-op order (sum_sq/n - mean*mean) that
    the oracle mirrors token-for-token — bit parity without rounding."""
    from ..operators.skew import spread

    e = spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    x = e.select(
        F.posexplode(F.col("embedding")).alias("dim", "vf"),
    ).select("dim", F.col("vf").cast("double").alias("v"))
    dec = lambda c: F.sum(c.cast("decimal(18,8)")).cast("double")  # noqa: E731
    n = F.count(F.lit(1))
    mean = dec(F.col("v")) / n
    return x.groupBy("dim").agg(
        n.alias("n"),
        mean.alias("mean_v"),
        (dec(F.col("v") * F.col("v")) / n - mean * mean).alias("var_v"),
    )


@query(
    "dedup_containment",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE doc_id % 7 = 0 AND len(toks) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)) AS containment
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment coefficient |A∩B| / min(|A|,|B|) over the same blocked
    candidate pairs as dedup_ngram_jaccard — the asymmetric overlap
    measure that catches SUBSET duplication (a short doc embedded whole
    inside a long one scores ~1.0 here but low Jaccard, since the union
    is dominated by the long doc). Same scale story as the Jaccard
    verifier: group-bounded pair join on the blocking key; production
    input is LSH candidates, never the raw corpus cross join."""
    from ..operators.dedup import shingles
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id").filter(
        F.col("doc_id") % 7 == 0)
    t = d.select(
        "doc_id", "lang", F.array_distinct(shingles("text", 3)).alias("sh"),
    ).filter(F.size("sh") >= 1)
    a = t.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("l_a"),
                 F.col("sh").alias("sh_a"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("l_b"),
                 F.col("sh").alias("sh_b"))
    pairs = a.join(b, (F.col("l_a") == F.col("l_b"))
                   & (F.col("id_a") < F.col("id_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return pairs.select(
        "id_a", "id_b",
        (inter / F.least(F.size("sh_a"), F.size("sh_b"))).alias("containment"),
    )

@query(
    "top_provider_by_segment",
    oracle="""
    SELECT c_mktsegment,
           arg_max(s_name, total) AS top_provider,
           max(total) AS top_total,
           CAST(count(*) AS BIGINT) AS n_providers
    FROM (
        SELECT c_mktsegment, s_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY c_mktsegment, s_name)
    GROUP BY c_mktsegment
    """,
)
def top_provider_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greatest-n-per-group WITHOUT a window: max_by/arg_max collapses the
    'which provider bills the most per patient segment' question into one
    hash aggregate over the pre-aggregated totals — no per-group sort, no
    rank+filter, no self-join, so the second phase shuffles only the
    distinct (segment, provider) pairs. Determinism: totals are exact
    decimals and provider totals are distinct-by-construction here; a
    production tie needs a (total, name) struct-max tiebreak.
    max_by == DuckDB arg_max."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("c_mktsegment", "s_name")
        .agg(dsum("l_extendedprice").alias("total"))
    )
    return per.groupBy("c_mktsegment").agg(
        F.max_by("s_name", "total").alias("top_provider"),
        F.max("total").alias("top_total"),
        F.count(F.lit(1)).alias("n_providers"),
    )

@query(
    "mau_trailing7",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM du),
    f AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                           CAST(day + 6 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM du)
    SELECT f.day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
    FROM f, b WHERE f.day BETWEEN mn AND mx
    GROUP BY f.day
    """,
)
def mau_trailing7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) that window frames cannot express (distinct is not
    decomposable over a moving frame). The scalable formulation: shrink
    to distinct (user, day) pairs FIRST (one exact-dedup shuffle), then
    fan each pair out to the <=7 trailing days it contributes to
    (sequence+explode — bounded 7x blowup of the already-deduped pairs,
    not of raw events), then one count-distinct per day. At 100 TB the
    7x sits on the small side of the funnel; the alternative — a
    collect_set over a range window — holds per-day user sets in a
    single task's memory and dies."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    mn_mx = du.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    f = du.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("day"),
    )
    return (
        f.crossJoin(F.broadcast(mn_mx))  # bounded: one row forever
        .filter(F.col("day").between(F.col("mn"), F.col("mx")))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
    )


# ===========================================================================
# Classic decorrelated-subquery / deep-join shapes (TPC-H Q8/Q13/Q17/Q21/Q22
# analogs on the driver schema — the reference's query_builder.py:60-179
# parameterized listings compose exactly these sub-shapes)
# ===========================================================================


@query(
    "cust_order_distribution",
    oracle="""
    WITH co AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — two-level aggregate with zero-preserving outer
    join: visits-per-patient distribution INCLUDING never-admitted
    patients (the reference's engagement histogram needs the zero
    bucket, which an inner join silently drops). The filter on the
    probe side (non-urgent only) lives in the join condition, so it
    prunes orders before the shuffle; count(o_orderkey) over the null-
    extended rows yields the zero bucket. Second aggregate is keyed by
    c_count — at most a few hundred distinct values, so the final
    shuffle is trivially small at any scale."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "part_qty_threshold",
    oracle="""
    WITH j AS (
        SELECT l_partkey, l_quantity, l_extendedprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
                        OVER (PARTITION BY l_partkey) AS DOUBLE)
                   / count(l_quantity) OVER (PARTITION BY l_partkey)
                   AS avg_qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size <= 10)
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(7.0 AS DOUBLE) AS avg_yearly
    FROM j WHERE l_quantity * CAST(5.0 AS DOUBLE) < avg_qty
    """,
)
def part_qty_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — per-group correlated scalar subquery,
    decorrelated: revenue from small-quantity orders of selected parts,
    where 'small' means below 20% of THAT part's average quantity. The
    correlated avg is a window over l_partkey on the already-joined
    slice, reusing the join's hash partitioning — one shuffle total,
    no second scan of lineitem (the textbook decorrelation Catalyst
    cannot yet do for this pattern when written as a subquery).
    Parity: `qty * 5 < avg` instead of `qty < 0.2 * avg` keeps the
    comparison exact (5.0 multiplies small integers losslessly; 0.2 is
    not representable in binary), and the window avg accumulates
    decimal before one double division — both engines token-identical."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    j = li.join(p, li.l_partkey == p.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        j.withColumn("avg_qty", davg("l_quantity", over=w))
        .filter(F.col("l_quantity") * F.lit(5.0) < F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@query(
    "late_supplier_ranking",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS nsupp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS nret,
               max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
                   AS ret_supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_order JOIN supplier ON ret_supp = s_suppkey
    WHERE nsupp > 1 AND nret = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def late_supplier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS + NOT EXISTS double self-join
    (suppliers solely responsible for a problem on a multi-supplier
    order), rewritten as ONE aggregation: per order, count distinct
    suppliers, count distinct offending suppliers (return flag R on a
    finalized visit), and keep orders where exactly one supplier
    offended among several. The naive formulation self-joins lineitem
    twice (three scans + two shuffles of the biggest table); this runs
    one scan and one shuffle, and the max(CASE) trick recovers the
    single offender's key without collect_set. s_name is unique per
    supplier, so ORDER BY (numwait DESC, s_name) + LIMIT is a total
    order — deterministic top-100 on both engines.

    The distinct counts are TWO-LEVEL, not COUNT(DISTINCT): Spark plans
    multiple distinct aggregates over one input via Expand (every input
    row triplicated, one replica per distinct group — measured 547k
    shuffle records at sf0.1, ~3× the post-combine row count). Grouping
    by (order, supplier) first needs no distincts at all — both phases
    map-side combine. The second phase re-exchanges on l_orderkey
    (Spark's HashPartitioning(k1,k2) does not satisfy a clustered
    distribution on the prefix k1 — test_q21 counts that exchange), but
    it moves only the aggregated (order, supplier) pairs, a small
    fraction of the fact, so decorrelation stays one wide fact shuffle
    plus one cheap pair-level shuffle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("l_returnflag") == "R").alias("__offender"))
    )
    offender_key = F.when(F.col("__offender"), F.col("l_suppkey"))
    per_order = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("nsupp"),
            F.count(offender_key).alias("nret"),
            F.max(offender_key).alias("ret_supp"),
        )
        .filter((F.col("nsupp") > 1) & (F.col("nret") == 1))
    )
    return (
        per_order.join(s, per_order.ret_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "inactive_rich_customers",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_acctbal,
               substring(c_mktsegment, 1, 2) AS segcode
        FROM customer
        WHERE substring(c_mktsegment, 1, 2) IN ('AU', 'BU', 'FU')),
    thr AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                   / count(c_acctbal) AS avg_bal
        FROM pool WHERE c_acctbal > 0)
    SELECT segcode, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY segcode
    """,
)
def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global-scalar subquery + anti join + derived-
    code rollup: patients in selected segment codes with above-average
    positive balance and NO visit on record (the reference's outreach
    listing — exactly the rows an inner join can never return). The
    average is a 1-row aggregate broadcast into the filter (bounded
    forever, the one broadcast hint that is always safe); the no-orders
    test is a LEFT ANTI join that shuffles only custkeys; the final
    rollup groups a handful of 2-char codes."""
    pool = (
        _t(spark, sf_dir, "customer")
        .withColumn("segcode", F.substring("c_mktsegment", 1, 2))
        .filter(F.col("segcode").isin("AU", "BU", "FU"))
        .select("c_custkey", "c_acctbal", "segcode")
    )
    thr = pool.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("avg_bal"))
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(thr))  # 1-row scalar: bounded
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy("segcode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "market_share_by_year",
    oracle="""
    WITH vol AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice
                    * (CAST(1.0 AS DOUBLE) - l_discount) AS DOUBLE)
                   AS volume,
               sn.n_name = 'NATION_3' AS is_target
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO')
    SELECT o_year,
           CAST(sum(CAST(CASE WHEN is_target THEN volume
                              ELSE CAST(0.0 AS DOUBLE) END
                         AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
               AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — the deepest join tree in the catalog (fact +
    7 relations, nation joined twice under different roles) feeding a
    conditional-share aggregate: the target provider-nation's share of
    promo revenue in one market region, per year. Catalyst/AQE pushes
    the region+type filters into the dim scans and picks broadcast for
    the genuinely bounded sides (nation x2, region) — no hints on
    customer/part/supplier, which scale with SF. The share is a ratio
    of two conditional decimal sums in one aggregate pass (no second
    scan, no join of two aggregates).

    Join ORDER is part of the design: Catalyst does not reorder joins
    without CBO statistics, so the most selective reduction — the
    PROMO-filtered part join, which keeps ~1/6 of lineitem — is written
    FIRST, ahead of the orders/customer joins; every downstream shuffle
    then carries the reduced fact. Measured at sf30 (fresh JVM, 48g):
    orders-first shuffled 409M records / 9.1 GB in 25.5 s; part-first
    cuts that to a fraction.

    The part reduction is a ``semi_reduce``, not an inner join (r9): no
    part column survives to the output, and the inner-join form fell
    off AQE's broadcast threshold at sf60 — the full fact shuffled on
    l_partkey and the query's total shuffle went 2,174 → 12,456 MB
    (5.7× for 2× data, exchanges 5 → 7; audit_sf60). Broadcasting the
    PROJECTED key set keeps the fact exchange-free on that key for
    ~18× more data, and above the 64 MB key-set gate the shuffle semi
    + runtime bloom pruning takes over (regime stamped)."""
    from ..operators.skew import semi_reduce

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    cn = _t(spark, sf_dir, "nation").alias("cn")
    sn = _t(spark, sf_dir, "nation").alias("sn")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = (
        semi_reduce(li, p, "l_partkey", "p_partkey")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn.n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(r), F.col("cn.n_regionkey") == r.r_regionkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice")
             * (F.lit(1.0) - F.col("l_discount"))).alias("volume"),
            (F.col("sn.n_name") == "NATION_3").alias("is_target"),
        )
    )
    return vol.groupBy("o_year").agg(
        (dsum("CASE WHEN is_target THEN volume ELSE 0.0D END")
         / dsum("volume")).alias("mkt_share")
    )


@query(
    "scan_partitioned_dpp",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(year(o_orderdate) AS INTEGER) AS o_year
    FROM orders
    WHERE year(o_orderdate) IN (1997, 1998) AND o_totalprice > 50000
    """,
)
def scan_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout scan with dynamic partition pruning: orders
    land partitioned by visit year (the natural 100 TB layout — time is
    the universal partition key), and a query joining a filtered year
    dimension reads ONLY the matching year directories. The dim filter
    is not a literal the planner can see at compile time, so static
    pruning can't help; Spark's DPP turns the broadcast dim into a
    runtime partition filter on the fact scan
    (`dynamicpruning#...` subquery in the plan — pinned in
    tests/test_plan_shapes.py). At 100 TB this is the difference
    between scanning 2 years and scanning 30."""
    import os as _os

    from ..config import SCRATCH_DIR

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_date"),
    ).withColumn("o_year", F.year("o_date"))
    if o.isEmpty():  # partitionBy of 0 rows writes no dirs -> unreadable
        return o.select("o_orderkey", "o_totalprice",
                        F.col("o_year").cast("int").alias("o_year")).limit(0)
    path = _os.path.join(
        SCRATCH_DIR,
        f"orders_by_year_{_os.path.basename(sf_dir.rstrip('/'))}")
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    po = spark.read.parquet(path)
    yr_dim = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("dim_year"),
        (F.col("id").isin(1997, 1998)).alias("recent"),
    )
    return (
        po.join(
            F.broadcast(yr_dim.filter("recent")),  # bounded: <=30 year rows
            po.o_year == F.col("dim_year"),
        )
        .filter(F.col("o_totalprice") > 50000)
        .select("o_orderkey", "o_totalprice",
                F.col("o_year").cast("int").alias("o_year"))
    )


# ===========================================================================
# Corpus curation reports (round-2 tail): per-source dedup pressure,
# per-language length profile, embedding-norm outliers, cross-source overlap
# ===========================================================================


@query(
    "corpus_dedup_stats",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
               / count(*) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication pressure — the triage report that
    decides WHERE to spend near-dup compute (a source with 40% exact
    dups gets MinHash'd first; a clean one may skip it). One groupBy
    with a distinct-aggregate on the content hash: Spark plans the
    count-distinct as a two-phase partial dedup (expand + two
    aggregates), so no per-source set ever materializes in one task —
    the same reason this survives a source with 10^10 docs."""
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        ((F.count(F.lit(1)) - F.count_distinct(F.md5("text")))
         .cast("double") / F.count(F.lit(1))).alias("dup_rate"),
    )


@query(
    "doc_length_profile",
    oracle="""
    WITH t AS (
        SELECT lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens
        FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           quantile_cont(n_tokens, 0.1) AS p10_tokens,
           quantile_cont(n_tokens, 0.5) AS p50_tokens,
           quantile_cont(n_tokens, 0.9) AS p90_tokens,
           CAST(max(n_tokens) AS INTEGER) AS max_tokens
    FROM t GROUP BY lang
    """,
)
def doc_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language — the first plot anyone
    makes before setting truncation/packing budgets (p90 drives the
    context-window bucket, the p10 tail exposes boilerplate stubs).
    Exact percentiles via one sort-based aggregate per language;
    Spark `percentile` == DuckDB `quantile_cont` (linear
    interpolation), so the oracle matches without rounding. At 100 TB
    the per-lang groups are large but the aggregate is still one
    shuffle; the approx_percentile twin (percentile_approx_p90
    pattern) is the toggle when exactness stops mattering."""
    from ..operators.skew import spread
    from ..operators.text import token_count

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    t = d.select("lang", token_count(F.col("text")).alias("n_tokens"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("n_tokens", F.lit(0.1)).alias("p10_tokens"),
        F.percentile("n_tokens", F.lit(0.5)).alias("p50_tokens"),
        F.percentile("n_tokens", F.lit(0.9)).alias("p90_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@query(
    "embedding_norm_outliers",
    oracle="""
    WITH n AS (
        SELECT vec_id,
               sqrt(CAST(sum(CAST(v * v AS DECIMAL(18,8))) AS DOUBLE))
                   AS l2_norm
        FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings)
        GROUP BY vec_id),
    s AS (
        SELECT CAST(sum(CAST(l2_norm AS DECIMAL(18,8))) AS DOUBLE)
                   / count(*) AS mu,
               sqrt(CAST(sum(CAST(l2_norm * l2_norm AS DECIMAL(18,8)))
                         AS DOUBLE) / count(*)
                    - (CAST(sum(CAST(l2_norm AS DECIMAL(18,8))) AS DOUBLE)
                       / count(*))
                      * (CAST(sum(CAST(l2_norm AS DECIMAL(18,8))) AS DOUBLE)
                         / count(*))) AS sigma
        FROM n)
    SELECT vec_id, l2_norm,
           l2_norm < mu - CAST(3.0 AS DOUBLE) * sigma
               OR l2_norm > mu + CAST(3.0 AS DOUBLE) * sigma AS is_outlier
    FROM n, s
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm screening of the embedding table: vectors whose norm sits
    >3 sigma from the corpus mean are suspect (truncated inputs, zero
    vectors, encoder failures) and poison cosine ANN — this is the
    standard pre-index hygiene pass. Norms accumulate per-vector as
    DECIMAL(18,8) through posexplode + groupBy (order-independent, so
    distributed == single-threaded bit-for-bit); the corpus moments are
    a second 1-row aggregate broadcast back as a scalar (bounded
    forever). Both engines compose mean/sigma/sqrt in the same token
    order — exact boolean parity without rounding."""
    from ..operators.skew import spread

    e = spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    x = e.select(
        "vec_id", F.explode(F.col("embedding")).alias("vf"),
    ).select("vec_id", F.col("vf").cast("double").alias("v"))
    dec = lambda c: F.sum(c.cast("decimal(18,8)")).cast("double")  # noqa: E731
    n = x.groupBy("vec_id").agg(
        F.sqrt(dec(F.col("v") * F.col("v"))).alias("l2_norm"))
    cnt = F.count(F.lit(1))
    mu = dec(F.col("l2_norm")) / cnt
    s = n.agg(
        mu.alias("mu"),
        F.sqrt(dec(F.col("l2_norm") * F.col("l2_norm")) / cnt
               - mu * mu).alias("sigma"),
    )
    lo = F.col("mu") - F.lit(3.0) * F.col("sigma")
    hi = F.col("mu") + F.lit(3.0) * F.col("sigma")
    return (
        n.crossJoin(F.broadcast(s))  # 1-row moments: bounded
        .select(
            "vec_id", "l2_norm",
            ((F.col("l2_norm") < lo) | (F.col("l2_norm") > hi))
            .alias("is_outlier"),
        )
    )


@query(
    "cross_source_overlap",
    oracle="""
    WITH fp AS (
        SELECT DISTINCT source, md5(trim(lower(text))) AS fp
        FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_docs
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus sources — the
    leakage/provenance matrix (two crawls sharing 30% of fingerprints
    should be mixture-weighted as one source, and a benchmark source
    overlapping a train source is contamination). Fingerprints are
    normalized-content hashes deduped per source FIRST (one exact-dedup
    shuffle shrinks the join input to unique docs), then a self-equi-
    join on the hash — within a fingerprint bucket the pair count is
    bounded by sources², not docs², so the join stays linear in corpus
    size. Never an all-pairs document comparison."""
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    fp = d.select(
        "source", F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    ).distinct()
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_docs"))
    )


@query(
    "merge_orders_cdc",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE year(o_orderdate) <= 1998),
    s AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
        FROM orders WHERE year(o_orderdate) >= 1998)
    SELECT t.* FROM t ANTI JOIN s USING (o_orderkey)
    UNION ALL
    SELECT s.* FROM s JOIN t USING (o_orderkey)
    WHERE s.o_orderstatus <> 'P'
    UNION ALL
    SELECT s.* FROM s ANTI JOIN t USING (o_orderkey)
    """,
)
def merge_orders_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO over a CDC batch (sources/sinks.py merge_into):
    the 1998+ slice arrives as changes — matched pending visits
    (status P) are deleted, other matches take the restated price,
    unseen keys insert, untouched history survives. The whole decision
    table runs in ONE full-outer co-shuffle on the key (the reference's
    row-at-a-time ON CONFLICT loop, scripts/etl.py:116-132, cannot
    delete and round-trips per row). The oracle states the same
    semantics as three disjoint key-set selects — different plan, same
    rows, which is the point of declaring MERGE logically."""
    from ..sources.sinks import merge_into

    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    t = o.filter(F.year("o_orderdate") <= 1998).select(*cols)
    s = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"))
    return merge_into(
        t, s, ["o_orderkey"],
        delete_cond=F.col("s.o_orderstatus") == "P",
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-side schema evolution: a table whose early files predate a
    column (v1: key+name) and whose later files carry it (v2: +acctbal)
    reads as ONE relation under parquet ``mergeSchema`` — old files
    surface typed NULLs, no rewrite of historical data (the write-side
    conform half is sources/sinks.py evolve_schema). At 100 TB schema
    changes are append-only events, never migrations: the footer merge
    happens once at planning time, scan cost is unchanged, and the
    column-pruning/pushdown behavior of the evolved scan is identical
    to a native one."""
    import os as _os

    from ..config import SCRATCH_DIR

    c = _t(spark, sf_dir, "customer")
    path = _os.path.join(
        SCRATCH_DIR,
        f"cust_evolved_{_os.path.basename(sf_dir.rstrip('/'))}")
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal")
    v1.write.mode("overwrite").parquet(_os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(_os.path.join(path, "batch=2"))
    return (
        spark.read.option("mergeSchema", "true").parquet(path)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "window_relative_standing",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           s_acctbal - lag(s_acctbal) OVER w AS gap_to_prev,
           first_value(s_acctbal) OVER w AS best_bal,
           nth_value(s_acctbal, 2) OVER (PARTITION BY s_nationkey
               ORDER BY s_acctbal DESC, s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS runnerup_bal
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_relative_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window suite — PERCENT_RANK / CUME_DIST /
    LAG-delta / FIRST_VALUE / NTH_VALUE(2) in one keyed window pass
    (provider balance standing within nation). percent_rank is
    (rank-1)/(rows-1) in both engines — exact double division of two
    small ints, so no rounding is needed; the s_suppkey tiebreak makes
    every ranking function total-order deterministic. nth_value needs
    the full-partition frame explicitly (the default frame stops at
    CURRENT ROW and would return NULL until row 2 — same rule, both
    engines). One shuffle on the partition key; all five functions
    share it."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_suppkey", "s_nationkey", "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        (F.col("s_acctbal") - F.lag("s_acctbal").over(w)).alias("gap_to_prev"),
        F.first("s_acctbal").over(w).alias("best_bal"),
        F.nth_value("s_acctbal", 2).over(wf).alias("runnerup_bal"),
    )


@query(
    "agg_priority_listagg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
               AS priorities_seen,
           CAST(count(*) AS BIGINT) AS n_visits
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_priority_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg — the 'summarize a small set as one cell'
    aggregate (reference export_utils builds exactly these cells in
    pandas). Deterministic only under an explicit ORDER BY: Spark
    collects the distinct set and sorts it BEFORE joining
    (array_join(array_sort(collect_set(...)))) — collect_set order is
    partition-dependent, the sort fixes it, matching DuckDB's
    string_agg(DISTINCT ... ORDER BY). Safe at scale ONLY because the
    aggregated domain (priority levels) is bounded; for unbounded
    domains the honest tool is a top-k or a sketch, never listagg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities_seen"),
            F.count(F.lit(1)).alias("n_visits"),
        )
    )


# ===========================================================================
# Classic decorrelated shapes, round-2 session 6: min-cost supplier (Q2),
# value concentration (Q11), top-revenue view (Q15), disjunctive join
# predicate (Q19), majority-share semi-join chain (Q20) — plus the
# LSH-verify→cluster→canonical dedup pipeline and a Z-order layout probe.
# ===========================================================================


@query(
    "min_cost_supplier",
    oracle="""
    WITH eur AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
    ps AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        JOIN eur ON l_suppkey = s_suppkey
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'STANDARD' AND p_size <= 5
        GROUP BY p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name),
    rk AS (
        SELECT *, row_number() OVER (PARTITION BY p_partkey
                                     ORDER BY unit_cost, s_suppkey) AS rn
        FROM ps)
    SELECT p_partkey, p_name, s_name, s_acctbal, n_name, unit_cost
    FROM rk WHERE rn = 1
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the correlated min-subquery (cheapest qualified
    provider per selected part, within one region), decorrelated into a
    two-level aggregate with NO join-back: level 1 computes each
    (part, supplier) unit cost; level 2 takes ``min(struct(unit_cost,
    s_suppkey, ...))`` per part, so the argmin and all its payload
    columns arrive in the same shuffle — where the textbook plan
    re-joins the min back to the detail (a third shuffle), the struct
    ordering (cost asc, then suppkey asc for ties) does it in the
    aggregate itself. Region/nation are bounded → broadcast hints;
    part is filtered but SCALES with SF → no hint, AQE picks the
    strategy from runtime size."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 5)
    ).select("p_partkey", "p_name")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = (
        li.join(eur, li.l_suppkey == eur.s_suppkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name", "s_suppkey",
                 "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    best = (
        ps.groupBy("p_partkey", "p_name")
        .agg(F.min(F.struct("unit_cost", "s_suppkey", "s_name",
                            "s_acctbal", "n_name")).alias("b"))
    )
    return best.select(
        "p_partkey", "p_name",
        F.col("b.s_name").alias("s_name"),
        F.col("b.s_acctbal").alias("s_acctbal"),
        F.col("b.n_name").alias("n_name"),
        F.col("b.unit_cost").alias("unit_cost"),
    )


@query(
    "supplier_value_share",
    oracle=f"""
    WITH g AS (
        SELECT s_suppkey, s_name,
               {_osum('l_extendedprice * (1 - l_discount)')} AS supp_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2')
        GROUP BY s_suppkey, s_name)
    SELECT s_suppkey, s_name, supp_value
    FROM g, (SELECT {_osum('supp_value')} AS tot FROM g) t
    WHERE supp_value * 1024 > tot
    """,
)
def supplier_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — group HAVING against a global-scalar subquery
    over the SAME aggregate (providers holding an outsized share of the
    selected nations' billed value). The grouped relation is computed
    once and reused for both the per-supplier rows and the 1-row total
    (self-referential CTE in the oracle; in Spark the same DataFrame
    feeds both sides, and the 1-row total is a bounded broadcast).
    Exactness: the share threshold is value × 1024 > total — a
    power-of-two multiplier is lossless in binary floating point, where
    the textbook `value > total × 0.0001` would round."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2"))
    g = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name")
        .agg(dsum(_REVENUE)
             .alias("supp_value"))
    )
    tot = g.agg(dsum("supp_value").alias("tot"))
    return (
        g.crossJoin(F.broadcast(tot))  # 1-row scalar: bounded
        .filter(F.col("supp_value") * F.lit(1024.0) > F.col("tot"))
        .select("s_suppkey", "s_name", "supp_value")
    )


@query(
    "top_revenue_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS s_suppkey,
               {_osum('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, s_acctbal, total_revenue
    FROM rev JOIN supplier USING (s_suppkey),
         (SELECT max(total_revenue) AS mx FROM rev) m
    WHERE total_revenue = mx
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the revenue VIEW + `= (SELECT max(...))` filter
    (top provider of a quarter, ties preserved — the reason this is not
    a LIMIT 1). The view is one partial-agg shuffle of the date-pruned
    fact slice; the max is a 1-row bounded broadcast; supplier enrich
    joins AFTER the equality filter, so only the winners' keys reach
    the supplier join (at most a handful of rows) rather than every
    supplier's quarter revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01"))
    rev = (
        li.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(dsum(_REVENUE)
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        rev.crossJoin(F.broadcast(mx))  # 1-row scalar: bounded
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, "s_suppkey")
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
    )


@query(
    "promo_disjunctive_revenue",
    oracle=f"""
    SELECT {_osum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size <= 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size <= 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size <= 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def promo_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — a join whose residual predicate is a DISJUNCTION
    of brand/size/quantity conjunctions (the classic 'OR-of-ANDs'
    pricing rule). Written as one join condition: Catalyst extracts the
    common `l_partkey = p_partkey` equi-key for the hash join, keeps
    the OR as a residual filter, and derives pushable per-side
    supersets from the disjunction (brand IN (...) OR-reduction on the
    part scan, quantity range union on the fact scan) — so both scans
    prune before the shuffle even though no single conjunct is common."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (li.l_partkey == p.p_partkey) & (
        ((p.p_brand == "Brand#12") & (p.p_size <= 5)
         & F.col("l_quantity").between(1, 11))
        | ((p.p_brand == "Brand#23") & (p.p_size <= 10)
           & F.col("l_quantity").between(10, 20))
        | ((p.p_brand == "Brand#34") & (p.p_size <= 15)
           & F.col("l_quantity").between(20, 30))
    )
    return li.join(p, cond).agg(
        dsum(_REVENUE)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "excess_qty_suppliers",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
               CAST(sum(sum(CAST(l_quantity AS DECIMAL(18,4))))
                        OVER (PARTITION BY l_partkey) AS DOUBLE) AS part_total
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND p_name LIKE 'small%'
        GROUP BY l_partkey, l_suppkey)
    SELECT s_suppkey, s_name,
           CAST(count(*) AS BIGINT) AS n_parts_dominated
    FROM ps JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty * 2 > part_total
    GROUP BY s_suppkey, s_name
    """,
)
def excess_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — the nested semi-join chain ('suppliers who
    shipped more than half of a selected part family's annual volume'),
    decorrelated: per-(part, supplier) quantity in ONE partial-agg
    shuffle, the per-part total as a window sum over that SAME
    aggregate — the window re-exchanges on l_partkey (a prefix of the
    grouping key does not satisfy Spark's clustered-distribution
    requirement, so one extra exchange appears — counted by
    test_q20_window_over_aggregated_pairs_only), but it moves only the
    aggregated (part, supplier) pairs, far smaller than the fact, where
    the textbook form rescans lineitem for the inner SUM. The majority test `qty × 2 >
    part_total` is lossless (power-of-two multiplier). Supplier enrich
    happens after the dominance filter — a few rows, not every pair."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dec_sum("l_quantity").alias("__dq"))
    )
    w = Window.partitionBy("l_partkey")
    ps = ps.select(
        "l_partkey", "l_suppkey",
        F.col("__dq").cast("double").alias("qty"),
        F.sum("__dq").over(w).cast("double").alias("part_total"),
    )
    return (
        ps.filter(F.col("qty") * F.lit(2.0) > F.col("part_total"))
        .join(s, ps.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
    )


@query(
    "dedup_cluster_canonical",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE doc_id % 7 = 0 AND len(toks) >= 3),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
        ) SELECT * FROM r),
    comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
        FROM reach GROUP BY a)
    SELECT c.doc_id, c.cluster_rep, s.cluster_size,
           c.doc_id = c.cluster_rep AS is_canonical
    FROM comp c
    JOIN (SELECT cluster_rep, count(*) AS cluster_size
          FROM comp GROUP BY 1) s USING (cluster_rep)
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup KEEP/DROP decision, end to end: verify-stage
    Jaccard pairs (threshold 0.5) → connected components (min-label
    propagation, operators/graph.py) → canonical representative = min
    doc id per cluster. This is the stage that turns pairwise evidence
    into the corpus-level verdict — a doc transitively similar to a
    kept doc must be dropped even if the direct pair was never scored,
    which is exactly what component closure provides. Production input
    is LSH candidates (dedup_minhash_lsh); the deterministic id-sample
    here makes the same pipeline oracle-checkable against a
    recursive-CTE closure in DuckDB."""
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import dedup_cluster_assignments

    d = _t(spark, sf_dir, "documents")
    pairs = (
        jaccard_pairs(d, F.col("doc_id") % 7 == 0)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    cl = dedup_cluster_assignments(pairs)
    return cl.select(
        "doc_id", "cluster_rep", "cluster_size",
        (F.col("doc_id") == F.col("cluster_rep")).alias("is_canonical"),
    )


@query(
    "layout_zorder",
    oracle="""
    WITH xy AS (
        SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS x,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        FROM orders),
    z AS (
        SELECT o_orderkey, x, y,
               CAST(sum((((x >> i) & 1) << (2*i+1))
                        + (((y >> i) & 1) << (2*i))) AS BIGINT) AS zval
        FROM xy CROSS JOIN range(0, 16) t(i)
        GROUP BY o_orderkey, x, y)
    SELECT zval >> 14 AS zblock,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_cust, max(x) AS max_cust,
           min(y) AS min_day, max(y) AS max_day
    FROM z GROUP BY 1
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleaving of two clustering dimensions —
    the multi-column data-layout primitive behind Delta/Iceberg
    OPTIMIZE ZORDER: bit-interleave (customer, day) so that a range
    predicate on EITHER column touches a bounded set of z-blocks,
    where a lexicographic sort serves only its leading column. The
    z-value is a pure native expression (aggregate over a 16-bit
    sequence with shiftleft/shiftright — no UDF, stays in codegen);
    at scale it feeds repartitionByRange(zval) before the write, and
    this query reports per-block extents — the min/max pruning stats
    a reader would use — demonstrating both dimensions stay bounded
    within every block. Sixteen bits per dimension = 4 G cells; block
    id = zval >> 14 keeps block count scale-free."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01").cast("date")).cast("long").alias("y"),
    )
    z = o.withColumn(
        "zval",
        F.expr("""aggregate(sequence(0, 15), 0L, (acc, i) ->
                  acc + shiftleft(shiftright(x, i) & 1L, 2*i + 1)
                      + shiftleft(shiftright(y, i) & 1L, 2*i))"""),
    )
    return (
        z.groupBy(F.expr("shiftright(zval, 14)").alias("zblock"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_cust"), F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"), F.max("y").alias("max_day"),
        )
    )


@query(
    "regional_nation_revenue",
    oracle=f"""
    SELECT n_name,
           {_osum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def regional_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the full star with the LOCAL-commerce twist:
    the supplier join carries the extra `s_nationkey = c_nationkey`
    equality (provider and patient in the same nation), which can only
    be evaluated after both arms meet — so join ORDER decides whether
    the region restriction prunes early or the plan explodes first.

    SELECTIVE JOINS FIRST (the Q7/Q8 discipline, b1e7a6d): the region
    predicate reaches only nation in the declared-flat form, so without
    CBO stats Catalyst joined the full fact chain before any regional
    pruning — measured super-linear at sf30 (3.9 s@sf10 → 27.6 s@sf30
    fresh-JVM). Instead the bounded region⋈nation pair resolves
    DRIVER-SIDE to the member nationkeys (5 of 25 — same bounded-dim
    leaf-filter trick as bilateral_trade_volume, see its docstring for
    why a filtered LEAF beats a dim-join node for static broadcast),
    which then leaf-filter BOTH scaling dims: suppliers and customers
    shrink ~5× before touching the fact. lineitem meets the reduced
    supplier first (statically broadcast: supplier is the smallest
    scaling table) — cutting the fact to the regional ~20% with ZERO
    shuffle — then the date-pruned orders (the one big SMJ pair), then
    the reduced customer with the same-nation equality riding the
    custkey equi-join. Measured fresh-JVM: sf30 27.6 s → 15.3 s and
    sf10 3.9 s → 2.8 s; the orders SMJ shuffles the ~20% regional fact
    slice (~36M rows at sf30), never the 180M-row fact itself."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    region_keys = [
        row["n_nationkey"]
        for row in n.join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey").collect()  # bounded dims: 5 rows
    ]
    s_red = s.filter(F.col("s_nationkey").isin(region_keys))
    c_red = c.filter(F.col("c_nationkey").isin(region_keys))
    return (
        li.join(s_red, li.l_suppkey == s_red.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c_red, (o.o_custkey == c_red.c_custkey)
                     & (s_red.s_nationkey == c_red.c_nationkey))
        .join(F.broadcast(n), c_red.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(_REVENUE)
             .alias("revenue"))
    )


@query(
    "bilateral_trade_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {_osum('l_extendedprice * (1 - l_discount)')} AS volume
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral flows between two nations with the
    SYMMETRIC-OR residual (either direction of the pair qualifies).
    The disjunction spans the two nation roles, so it can't bind to
    either join alone — but each side's superset (n_name IN the pair,
    on both nation scans) IS pushable, and since nation is a bounded
    broadcast, the residual evaluates broadcast-local: zero extra
    shuffles beyond the fact joins. Grouped by direction + ship year
    — the classic 'trade balance by year' report.

    Join ORDER is part of the design (Catalyst does not reorder joins
    without CBO stats): the supplier side is pre-reduced by its
    nation-pair membership (2 of 25 nations → ~8% of suppliers) and
    joined to lineitem FIRST, so lineitem is filtered in place to ~8%
    before the orders/customer shuffles ever see it. The reduction is
    written as a LEAF filter — the pair's nationkeys come from a
    driver-side lookup of the bounded 25-row nation dim — because a
    filtered leaf keeps its file-size estimate and broadcasts
    statically, whereas a supplier⋈nation JOIN node's non-CBO estimate
    (product of child sizes) can never pass the broadcast threshold, and
    AQE's runtime conversion comes only after lineitem's map-side
    shuffle write is already paid (measured: 254M records either way).
    No broadcast hint on supplier — at 100 TB a bigger estimate degrades
    to SMJ on its own. Measured at sf30 (fresh JVM): orders-first
    shuffled 409M records / 9.1 GB in 19.3 s; leaf-first shuffles 74M /
    1.0 GB in 17.5 s — wall is now scan-bound locally, but the 5.5×
    shuffle cut is what matters on a real cluster where the exchanges
    ride the network."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = ("NATION_1", "NATION_2")
    sn = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)).alias("sn")
    cn = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)).alias("cn")
    pair_keys = [
        r["n_nationkey"]
        for r in _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select("n_nationkey").collect()  # bounded dim: 2 rows
    ]
    s_red = s.filter(F.col("s_nationkey").isin(pair_keys))
    j = (
        li.join(s_red, li.l_suppkey == s_red.s_suppkey)
        .join(F.broadcast(sn), s_red.s_nationkey == F.col("sn.n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn.n_nationkey"))
        .filter(
            ((F.col("sn.n_name") == pair[0]) & (F.col("cn.n_name") == pair[1]))
            | ((F.col("sn.n_name") == pair[1]) & (F.col("cn.n_name") == pair[0]))
        )
    )
    return (
        j.select(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            "l_extendedprice", "l_discount",
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_REVENUE)
             .alias("volume"))
    )


@query(
    "returns_revenue_topk",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {_osum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_returned_lines
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returns_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — 'which patients generated the most disputed
    billing last half-year': grouped revenue over the returned-lines
    slice, top 20. The ORDER BY carries c_custkey as a tiebreak so the
    LIMIT boundary is deterministic (revenue alone can collide across
    engines at equal values); physically this is TakeOrderedAndProject
    — per-partition heaps of 20 rows, never a global sort of every
    customer's revenue."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(_REVENUE)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "ann_pq_topk",  # approximate (quantized codes) — recall-band oracle
    recall_oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id FROM embeddings b, q
    WHERE b.vec_id <> 0
    ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), q.qv)
        DESC, b.vec_id
    LIMIT 10
    """,
    recall_floor=0.90,  # calibrated 0.96 at refine 80k; measured 1.0 at both gate SFs
    recall_cols=("vec_id",),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-rank — the
    memory-bound ANN path, served the 100 TB way: the m per-subspace
    codebooks train ONCE at ingest (index build, cached per sf_dir) and
    the m-byte codes are a stored array<int> column; the query is the
    stored-code ADC lookup (m element_at sums — no KMeans fit, no
    per-row float vector math) + exact cosine re-rank of the refine
    set."""
    from ..operators.similarity import pq_build_index, pq_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty table OR query vector absent: nothing to probe
        return emb.select(
            "vec_id", "label", F.lit(0.0).alias("cosine_sim")).limit(0)
    index_dir = _derived_artifact(
        sf_dir, "embeddings", "pq",
        lambda d: pq_build_index(emb, d, m=8, codebook_k=16))
    # knobless call: refine resolves from the measured recall table to
    # hit the 0.9 default target (shortlist 80*k, 0.96 measured recall)
    return pq_topk_indexed(spark, index_dir, qrow[0], k=10, exclude_id=0)


@query(
    "rollup_navigated_trend",
    oracle="""
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS month,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / count(*) AS avg_v,
           min(o_totalprice) AS min_v,
           max(o_totalprice) AS max_v
    FROM orders GROUP BY 1
    """,
)
def rollup_navigated_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order trend answered by the AGGREGATE NAVIGATOR
    (plans/navigator.py): a (month, status)-grain rollup of mergeable
    partial states materializes once per fact version
    (``_derived_artifact``: content-stamped, atomically claimed), and
    this query's coarser (month) grain re-aggregates those
    partials — the plan reads ONLY the rollup parquet, never orders.
    Bit-exact vs the fact-level oracle because the stored sums are
    DECIMAL (associative): sum-of-sums equals the one-shot sum. The
    routing is what Catalyst lacks natively (materialized-view
    rewrite); tests/test_navigator.py pins both the equality and the
    no-fact-scan plan shape."""
    from .navigator import Rollup, build_rollup, month_of, navigate, pick_rollup

    grain = ["month", "o_orderstatus"]

    def build(path):
        o = _t(spark, sf_dir, "orders").withColumn("month", month_of("o_orderdate"))
        build_rollup(o, grain, "o_totalprice", path)

    path = _derived_artifact(sf_dir, "orders", "rollup", build)
    rollup = Rollup("orders_month_status", path, tuple(grain))
    chosen = pick_rollup([rollup], ["month"])
    assert chosen is not None
    return navigate(spark, chosen, ["month"])


@query(
    "event_transitions",
    oracle="""
    WITH tr AS (
        SELECT event_type AS from_event,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_event
        FROM events),
    c AS (
        SELECT from_event, to_event, count(*) AS n_transitions
        FROM tr WHERE to_event IS NOT NULL
        GROUP BY from_event, to_event)
    SELECT from_event, to_event, n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(sum(n_transitions) OVER (PARTITION BY from_event)
                      AS DOUBLE) AS p_transition
    FROM c
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream — the
    'what do users do next' model behind next-action prediction and
    anomalous-session scoring. Per-user successor via LEAD (partitioned
    by user — parallel at any scale, with event_id as the deterministic
    tiebreak for equal timestamps); the conditional probability divides
    by the from-state total via a window over the AGGREGATED matrix,
    whose size is the event-type-domain squared — bounded, so the
    single-key window is safe forever. Integer counts divide as doubles
    → bit-reproducible, no libm."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts",
                                            "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("to_event", F.lead("event_type").over(w))
        .filter(F.col("to_event").isNotNull())
        .select(F.col("event_type").alias("from_event"), "to_event")
    )
    c = tr.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    wf = Window.partitionBy("from_event")
    return c.select(
        "from_event", "to_event", "n_transitions",
        (F.col("n_transitions").cast("double")
         / F.sum("n_transitions").over(wf).cast("double"))
        .alias("p_transition"),
    )


@query(
    "stream_funnel_outcomes",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events),
    wm AS (
        SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
                     max(CASE WHEN event_type = 'purchase' THEN ts END))
                   - INTERVAL 2 HOUR AS w
        FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
                 ts AS purchase_ts
          FROM e WHERE event_type = 'purchase'),
    j AS (
        SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
        FROM c LEFT JOIN p
          ON c.user_id = p_user_id
         AND purchase_ts >= click_ts
         AND purchase_ts <= click_ts + INTERVAL 1 HOUR)
    SELECT user_id, click_id, purchase_id,
           purchase_id IS NOT NULL AS converted
    FROM j, wm
    WHERE purchase_id IS NOT NULL OR click_ts + INTERVAL 1 HOUR < w
    """,
)
def stream_funnel_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion OUTCOMES — batch twin of the stream-stream LEFT OUTER
    interval join (streaming.pipelines.streaming_funnel_outcomes): pairs
    plus null-padded abandoned clicks, restricted to clicks the stream's
    final watermark would have resolved (unresolved in-flight state is
    excluded on both sides — that's the outer join's emission rule, not
    a simplification). The stream/batch equality is pinned in
    tests/test_streaming.py; this entry certifies the shared semantics
    against DuckDB, truncating ns→µs in the oracle exactly as the scan
    does."""
    from ..sources.loaders import load_table
    from ..streaming.pipelines import funnel_outcomes

    return funnel_outcomes(load_table(spark, sf_dir, "events"))


@query(
    "serving_limited",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS visit_date
    FROM orders
    WHERE o_totalprice > 450000
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 5
    """,
)
def serving_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 through the REAL serving path: QueryService.run with a typed
    float parameter and the universal result-cap ``limit`` (the
    reference's {cost_threshold}/{limit} str.format placeholders,
    query_builder.py:133 — here validated/coerced params bound into the
    plan as literals, with the READ audit side-effect). limit-after-
    orderBy keeps TakeOrderedAndProject semantics, so the cap is
    deterministic (tiebreak on the key), certifying the service wrapper
    end to end, not just the catalog function it wraps."""
    from .serving import QueryService

    svc = QueryService(spark, sf_dir, user="driver_check")
    return svc.run("topk_highcost", limit=5, cost_threshold=450000.0, k=20)


@query(
    "ddl_star_schema",
    oracle="""
    SELECT * FROM (VALUES
        ('dim_customer', 1, 'customer_key',      'bigint'),
        ('dim_customer', 2, 'c_custkey',         'bigint'),
        ('dim_customer', 3, 'anonymized_name',   'string'),
        ('dim_customer', 4, 'balance_group',     'string'),
        ('dim_customer', 5, 'c_nationkey',       'int'),
        ('dim_customer', 6, 'c_mktsegment',      'string'),
        ('dim_customer', 7, 'valid_from',        'timestamp'),
        ('dim_customer', 8, 'valid_to',          'timestamp'),
        ('dim_customer', 9, 'is_current',        'boolean'),
        ('dim_supplier', 1, 'supplier_key',      'bigint'),
        ('dim_supplier', 2, 's_suppkey',         'bigint'),
        ('dim_supplier', 3, 's_name',            'string'),
        ('dim_supplier', 4, 's_nationkey',       'int'),
        ('dim_supplier', 5, 'valid_from',        'timestamp'),
        ('dim_supplier', 6, 'valid_to',          'timestamp'),
        ('dim_supplier', 7, 'is_current',        'boolean'),
        ('fact_orders',  1, 'order_key',         'bigint'),
        ('fact_orders',  2, 'o_orderkey',        'bigint'),
        ('fact_orders',  3, 'o_custkey',         'bigint'),
        ('fact_orders',  4, 'customer_key',      'bigint'),
        ('fact_orders',  5, 'o_orderstatus',     'string'),
        ('fact_orders',  6, 'o_totalprice',      'double'),
        ('fact_orders',  7, 'o_orderdate',       'timestamp_ntz'),
        ('fact_orders',  8, 'o_orderpriority',   'string'),
        ('fact_orders',  9, 'cost_with_privacy', 'double'),
        ('fact_orders', 10, 'order_year',        'int')
    ) t(table_name, ordinal, column_name, data_type)
    """,
)
def ddl_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 as a driver-certifiable row: run the real DDL (CREATE DATABASE
    + the three star tables, sources/ddl.py — init.sql parity including
    the year-partitioned fact), then emit the resulting catalog schema
    as (table, ordinal, column, type) rows and drop the scratch
    database. The oracle pins the expected schema literally, so any
    drift in the DDL (added column, changed type, lost partition
    column) fails the hash — schema-as-data regression testing.

    The scratch database name is PID-suffixed: two harness processes
    sharing one warehouse (bench and oracle-check in parallel) would
    otherwise race, with one run's finally-block CASCADE-dropping the
    other's tables mid-query. The emitted rows use the stable logical
    name so the oracle hash is process-independent."""
    import os as _os

    from ..config import SCRATCH_DIR
    from ..sources.ddl import create_star_schema

    db = f"hdw_ddl_check_{_os.getpid()}"
    try:
        create_star_schema(
            spark, db=db, location=_os.path.join(SCRATCH_DIR, db + ".db"))
        rows = []
        for tbl in ("dim_customer", "dim_supplier", "fact_orders"):
            for i, c in enumerate(spark.catalog.listColumns(f"{db}.{tbl}"), 1):
                rows.append((tbl, i, c.name, c.dataType))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return spark.createDataFrame(
        rows, "table_name string, ordinal int, column_name string, data_type string"
    )


@query(
    "sample_weighted",
    oracle="""
    WITH p AS (
        SELECT doc_id, lang, n_chars,
               floor(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             ::BIGINT + 1.0) / 1152921504606846976.0)
                     / CAST(n_chars AS DOUBLE)
                     * 1000000000 + 0.5) / 1000000000 AS prio
        FROM documents WHERE n_chars <> 0)
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY prio DESC, doc_id) AS rn
        FROM p) WHERE rn <= 20
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsample (Efraimidis–Spirakis priorities,
    operators/curation.py weighted_sample): longer documents — the
    n_chars stand-in for a quality score — are proportionally likelier
    to survive, per language, without replacement, bit-reproducible
    across runs. The 'keep the best 20 per language' curation step.
    Hash-green via the log-form priority ln(u)/w rounded 9dp IEEE-pure
    (order-equivalent to u^(1/w); ln ulp variance absorbed — see the
    operator docstring)."""
    from ..operators.curation import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(d, weight_col="n_chars", n_per_group=20,
                           group_col="lang")


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
               ' +', ' ', 'g') AS norm_text,
           md5(regexp_replace(
               trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
               ' +', ' ', 'g')) AS norm_fingerprint
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization ahead of exact dedup: lowercase, strip
    non-alphanumerics to spaces, collapse runs, trim — so 'Hello,
    World!' and 'hello world' collide on the SAME md5 fingerprint
    (exact-dedup recall depends entirely on this step; the fingerprint
    column feeds dedup_exact / cross_source_overlap directly). Pure
    native string expressions; codegen subexpression elimination
    computes the shared normalize chain once for both output columns.

    The normalize is split-on-runs, NOT the literal regex-replace chain
    the oracle spells: ``regexp_replace(lower, '[^a-z0-9 ]', ' ')`` fires
    the match loop once PER CHARACTER (appendReplacement allocation per
    hit), while ``split(lower, '[^a-z0-9]+')`` fires once per separator
    RUN and array_join(filter(.., x != ''), ' ') rebuilds the collapsed,
    trimmed string in one pass — bit-identical output (0 mismatches over
    the full sf1 corpus; the leading/trailing empty split cells are
    exactly the trim, the run-split is exactly the ' +' collapse).
    With spread() ahead of the CPU-bound pass (14 byte-sized scan splits
    at sf10 otherwise): measured sf10 15.6 s → 1.5 s, 10.6×."""
    from ..operators.skew import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    norm = F.array_join(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                 lambda x: x != ""),
        " ")
    return d.select("doc_id", norm.alias("norm_text"),
                    F.md5(norm).alias("norm_fingerprint"))


@query(
    "unshipped_priority_topk",
    oracle=f"""
    SELECT l_orderkey,
           {_osum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def unshipped_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — the shipping-priority report: revenue still in
    flight (ordered before, shipped after the cutoff) for one market
    segment, top 10 orders. Both date predicates push into their own
    scans BEFORE the join (order side prunes on o_orderdate, line side
    on l_shipdate); the group key includes the pre-aggregation
    functional dependencies so no second pass re-joins them; top-10 is
    TakeOrderedAndProject with the key tiebreak."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum(_REVENUE)
             .alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "nation_profit_by_year",
    oracle=f"""
    SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           {_osum('l_extendedprice * (1 - l_discount) '
                  '- l_quantity * p_retailprice')} AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY supp_nation, o_year
    """,
)
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit attribution: revenue minus input cost
    (retail price × quantity standing in for ps_supplycost, which the
    driver schema doesn't carry), per supplier nation per order year,
    over a product-name slice. The measure combines columns from THREE
    relations (lineitem, part, orders), so it can only fold after the
    joins — the classic 'wide measure' that forces join order to keep
    the fact narrow: part's LIKE filter prunes first, nation is a
    bounded broadcast, and the single aggregate groups a two-level key
    whose cardinality (nations × years) is tiny forever."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")).select("p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation")
    profit = f"{_REVENUE} - l_quantity * p_retailprice"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("supp_nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit).alias("profit"))
    )


@query(
    "priority_shipping_stats",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def priority_shipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional-count pivot: per line status (the
    shipmode stand-in), how many lines belong to high- vs low-priority
    orders. The two counts are CASE sums inside ONE aggregate over one
    join — the naive two-queries-and-a-union doubles the fact scan. The
    date window prunes the fact scan before the join."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE)
               * {_osum("CASE WHEN p_type = 'PROMO' "
                        "THEN l_extendedprice * (1 - l_discount) "
                        "ELSE 0 END")}
               / {_osum('l_extendedprice * (1 - l_discount)')}
               AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional share in one pass: promo revenue
    over total revenue for a month, both sums folding in the SAME
    aggregate (no second scan, no join of two aggregates — the ratio of
    two conditional decimal sums). ×100 is exact in binary; the month
    filter prunes the fact scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = f"CASE WHEN p_type = 'PROMO' THEN {_REVENUE} ELSE 0.0D END"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * dsum(promo) / dsum(_REVENUE)).alias("promo_pct"))
    )


@query(
    "part_supplier_variety",
    oracle="""
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier variety per product attribute with a
    NOT-IN exclusion subquery (complaint suppliers — negative balance —
    excluded). NOT IN over a non-nullable key is a LEFT ANTI join here
    (the exclusion list is a filtered scan, never collected to the
    driver); COUNT(DISTINCT supplier) then dedups inside the aggregate.
    Both part filters reach the part scan; the anti join runs before
    the count so excluded suppliers never inflate the distinct state."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 5, 9, 13)
    ).select("p_partkey", "p_brand", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "search_conjunctive",
    oracle=r"""
    WITH tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS term
              FROM documents)
        WHERE term IN ('join', 'hash')
        GROUP BY doc_id, term)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
    FROM tf
    GROUP BY doc_id
    HAVING count(DISTINCT term) = 2
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) term search with term-frequency ranking — the
    query side of the inverted_index build: docs containing EVERY query
    term, scored by summed tf, top 10. The query-term filter lands
    immediately after the tokenizer, so only matching term occurrences
    (a vanishing fraction of the corpus) ever reach a shuffle; the
    ALL-terms test is HAVING count(distinct term) = |query| on the
    per-doc aggregate — no per-term self-joins (the posting-list
    intersection a row store would do becomes one grouped pass). At
    index-backed scale the same plan reads the postings table instead
    of re-tokenizing; scoring and intersection are identical."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    terms = ["join", "hash"]
    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # explode THEN filter, deliberately: pre-filtering inside the array
    # (F.filter HOF before the explode) was measured SLOWER here — the
    # interpreted per-element lambda costs more than codegen generating
    # the narrow (doc_id, term) rows and filtering them in the same
    # codegen stage (sf10 back-to-back: 2.1 s vs 2.5 s). The HOF form
    # only pays when the generated rows are wide (see bm25_topk).
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("score"),
             F.countDistinct("term").alias("__nt"))
        .filter(F.col("__nt") == len(terms))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "dedup_rare_shingle_pairs",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3),
    ds AS (SELECT doc_id, unnest(sh) AS f FROM t),
    rare AS (
        SELECT f FROM ds GROUP BY f
        HAVING count(*) BETWEEN 2 AND 3),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ds a JOIN ds b ON a.f = b.f AND a.doc_id < b.doc_id
        WHERE a.f IN (SELECT f FROM rare))
    SELECT id_a, id_b,
           CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(ta.sh, tb.sh))) AS jaccard
    FROM pairs
    JOIN t ta ON ta.doc_id = id_a
    JOIN t tb ON tb.doc_id = id_b
    """,
)
def dedup_rare_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic COMPLETE near-dup candidates via rare-feature
    blocking (operators/dedup.py rare_feature_pairs — the PPJoin prefix
    filter principle): every pair sharing a shingle seen in ≤3 docs,
    exact-Jaccard-verified. Unlike the MinHash/SimHash generators there
    is no probabilistic recall here, and unlike the %-sample verify the
    coverage is the whole corpus — the bucket size bound (≤3) is what
    makes it affordable: candidates ∝ rare-shingle count, never n²."""
    from ..operators.dedup import rare_feature_pairs

    return rare_feature_pairs(_t(spark, sf_dir, "documents"))


@query(
    "session_paths",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type
        FROM events),
    p AS (
        SELECT user_id, day,
               array_to_string(list(event_type ORDER BY ts, event_id), '>')
                   AS path
        FROM e GROUP BY user_id, day)
    SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
    FROM p GROUP BY path
    ORDER BY n_user_days DESC, path
    LIMIT 20
    """,
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the ordered event-type path of each user-day,
    ranked by frequency — the 'what do sessions look like' report
    behind funnel design. Ordering inside a group needs no window sort:
    events collect as (ts, event_id, type) structs and array_sort puts
    them in event order AFTER the shuffle (struct order = field order,
    with event_id breaking timestamp ties deterministically) — one
    grouped pass, then a tiny path-frequency aggregate; top-20 is a
    heap. Path strings are bounded by the per-user-day event count, not
    the corpus."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"),
        "ts", "event_id", "event_type")
    paths = (
        ev.groupBy("user_id", "day")
        .agg(F.array_sort(F.collect_list(
            F.struct("ts", "event_id", "event_type"))).alias("__evs"))
        .select(F.array_join(
            F.transform(F.col("__evs"), lambda s: s["event_type"]), ">"
        ).alias("path"))
    )
    return (
        paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), F.asc("path"))
        .limit(20)
    )


@query(
    "ann_filtered_topk",
    oracle="""
    SELECT vec_id, label,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[])
                FROM embeddings WHERE vec_id = 0)) AS cosine_sim
    FROM embeddings
    WHERE vec_id <> 0 AND label = 3
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k cosine neighbors restricted to a
    metadata predicate (label = 3), the retrieval pattern every vector
    store is judged on: pre-filter THEN score, so the similarity math
    runs only on qualifying vectors (post-filtering a global top-k
    under-fills the result when the filter is selective — the classic
    correctness trap this query pins). The label predicate pushes to
    the scan; scoring is one pass; top-k is a heap. At ingest scale the
    label becomes a partition column and the filter becomes pruning
    (same pattern as IVF's list_id)."""
    from ..operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    return (
        emb.filter((F.col("vec_id") != 0) & (F.col("label") == 3))
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label",
                cosine(F.col("embedding"), F.col("__qv")).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "hybrid_search_rrf",
    oracle=r"""
    WITH lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
            FROM (
                SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id,
                             unnest(string_split_regex(trim(text), '\s+')) AS term
                      FROM documents)
                WHERE term IN ('join', 'hash')
                GROUP BY doc_id, term)
            GROUP BY doc_id)
        QUALIFY r <= 50),
    vec AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY s DESC, vec_id) AS r
        FROM (
            SELECT vec_id,
                   list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)) AS s
            FROM embeddings WHERE vec_id <> 0)
        QUALIFY r <= 50)
    SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
           CAST(COALESCE(1.0 / (60 + lex.r), 0)
                + COALESCE(1.0 / (60 + vec.r), 0) AS DOUBLE) AS rrf_score
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): a lexical ranking (summed tf over the query terms) and a
    vector ranking (cosine to the query embedding) fuse as
    Σ 1/(60 + rank) — rank-based, so the two scorers need no score
    calibration, and 1/(60+r) is an exact double (no libm). Each ranker
    independently produces its top-50 (a heap + one tiny window over 50
    rows — the global row_number runs on an already-truncated input,
    never the corpus); the fusion is a 50-row full outer join. The
    missing-from-one-ranker case takes only the present ranker's
    contribution — exactly RRF's robustness story."""
    from ..operators.similarity import cosine
    from ..operators.skew import spread
    from ..operators.text import tokens

    terms = ["join", "hash"]
    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # explode then filter — the HOF pre-filter loses on narrow rows
    # (see search_conjunctive for the measured trade)
    lex_scores = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("doc_id").agg(F.sum("tf").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    )
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # 50 rows: safe
    lex = lex_scores.select("doc_id", F.row_number().over(wl).alias("r_lex"))

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    vec_scores = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"),
                cosine(F.col("embedding"), F.col("__qv")).alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id")).limit(50)
    )
    wv = Window.orderBy(F.desc("s"), F.asc("doc_id"))  # 50 rows: safe
    vec = vec_scores.select("doc_id", F.row_number().over(wv).alias("r_vec"))

    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            (F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
             + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0))
             ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


@query(
    "bm25_topk",
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
    toks AS (
        SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM toks WHERE term IN ('join', 'hash')
        GROUP BY doc_id, dl, term),
    stats AS (
        SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM d),
    dfm AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT doc_id,
               CAST(floor(
                   (ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                    * (tf * 2.2)
                    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                   * 10000 + 0.5) / 10000 AS DECIMAL(18,6)) AS term_score
        FROM tf JOIN dfm USING (term) CROSS JOIN stats)
    SELECT doc_id, CAST(sum(term_score) AS DOUBLE) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) — the lexical-retrieval baseline
    every hybrid stack starts from. Corpus statistics (N, avgdl, per-
    term df) are one tiny aggregate each, broadcast as 1-or-|query|-row
    scalars; per-doc tf comes from the same filtered-tokenizer pass as
    search_conjunctive, so only query-term occurrences shuffle. Top-10
    is a heap.

    Hash-green despite the Robertson-Sparck-Jones ln idf: each TERM
    score is rounded to 4dp with the IEEE-pure floor formula (absorbing
    libm ln's last-ulp variance, same argument as text_tfidf), then the
    per-doc sum runs in DECIMAL(18,6) — exact and associative, so the
    aggregation order across partitions can't perturb the total the way
    a float sum of 3+ terms could. Every other input (tf, dl/avgdl,
    df) is a single IEEE op, bit-identical by construction. The numpy
    replica pytest pins the same pipeline end-to-end."""
    from ..operators.skew import spread
    from ..operators.text import _contains_any, tokens

    terms, k1, b = ["join", "hash"], 1.2, 0.75
    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # filter-before-explode: only query-term occurrences are generated,
    # and dl still counts EVERY token (it sizes the full array before
    # the filter). Unlike the narrow-row cases (search_conjunctive,
    # hybrid_search_rrf — where the interpreted HOF lambda loses to
    # codegen explode+filter), here each generated row carries dl, so
    # shrinking the generated stream pays: sf10 back-to-back
    # 5.8 s → 4.8 s.
    toks = d.select("doc_id", F.size(tokens("text")).alias("dl"),
                    F.explode(
                        F.filter(tokens("text"), _contains_any(tuple(terms)))
                    ).alias("term"))
    tf = toks.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    stats = d.select(F.size(tokens("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_map = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df_map), "term")  # |query| rows: bounded
        .crossJoin(F.broadcast(stats))        # 1 row: bounded
        .select(
            "doc_id",
            round2(
                F.log(
                    (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
                4,
            ).cast("decimal(18,6)").alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "weighted_median_by_flag",
    oracle="""
    WITH t AS (
        SELECT l_returnflag, l_extendedprice / l_quantity AS unit_price,
               l_quantity,
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice / l_quantity, l_orderkey,
                            l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum_qty,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_qty
        FROM lineitem)
    SELECT l_returnflag, min(unit_price) AS weighted_median_price
    FROM t WHERE cum_qty * 2 >= tot_qty
    GROUP BY l_returnflag
    """,
)
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median — the quantity-weighted 50th-percentile unit
    price per return flag. Spark has no weighted percentile built-in;
    the exact formulation is a cumulative-weight window over the
    in-group price order (deterministic total order via the line's
    natural key as tiebreak) and the answer is the smallest price whose
    cumulative weight reaches half the group total (`cum × 2 ≥ total` —
    power-of-two, lossless). Both windows share one partition order, so
    the whole thing is ONE shuffle on the group key, parallel across
    groups; the `min` aggregate then reduces each group's qualifying
    suffix to its first row. Weights stay integral-valued doubles —
    cumulative sums are exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    wo = (Window.partitionBy("l_returnflag")
          .orderBy("unit_price", "l_orderkey", "l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag", "unit_price",
        F.sum("l_quantity").over(wo).alias("cum_qty"),
        F.sum("l_quantity").over(wt).alias("tot_qty"),
    )
    return (
        t.filter(F.col("cum_qty") * 2 >= F.col("tot_qty"))
        .groupBy("l_returnflag")
        .agg(F.min("unit_price").alias("weighted_median_price"))
    )


@query(
    "gini_by_segment",
    oracle="""
    WITH r AS (
        SELECT c_mktsegment, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS i,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment,
           CAST(sum(CAST((2 * i - n - 1) * c_acctbal
                         AS DECIMAL(24,4))) AS DOUBLE)
               / (n * CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE))
               AS gini,
           CAST(max(n) AS BIGINT) AS n_accounts
    FROM r GROUP BY c_mktsegment, n
    """,
)
def gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of positive account balances per market
    segment — the inequality/concentration report (is one segment's
    value held by a few whales?). Exact rank formulation
    Σ(2i−n−1)·xᵢ / (n·Σxᵢ) over the in-group sort with the key as
    tiebreak: one shuffle on the group key serves the rank window, the
    count window, AND the final aggregate (all share the partition
    key). Each product is one IEEE multiply (identical in any engine);
    the sums accumulate in DECIMAL so 32-way partial aggregation is
    order-insensitive — bit-equal to the single-threaded oracle."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    wr = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    r = c.select(
        "c_mktsegment", "c_acctbal",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    num = F.sum(((2 * F.col("i") - F.col("n") - 1) * F.col("c_acctbal"))
                .cast("decimal(24,4)")).cast("double")
    return (
        r.groupBy("c_mktsegment", "n")
        .agg(num.alias("__num"),
             dsum("c_acctbal").alias("__den"),
             F.max("n").alias("n_accounts"))
        .select(
            "c_mktsegment",
            (F.col("__num") / (F.col("n") * F.col("__den"))).alias("gini"),
            "n_accounts",
        )
    )


@query(
    "funnel_three_step",
    oracle="""
    WITH u AS (
        SELECT user_id,
               list_min(list(ts) FILTER (event_type = 'signup')) AS t1
        FROM events GROUP BY user_id),
    c AS (
        SELECT e.user_id, u.t1,
               min(e.ts) FILTER (e.event_type = 'click' AND e.ts > u.t1) AS t2
        FROM events e JOIN u ON e.user_id = u.user_id
        GROUP BY e.user_id, u.t1),
    p AS (
        SELECT e.user_id, c.t1, c.t2,
               min(e.ts) FILTER (e.event_type = 'purchase' AND e.ts > c.t2) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        GROUP BY e.user_id, c.t1, c.t2)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t1) AS BIGINT) AS n_signup,
           CAST(count(t2) AS BIGINT) AS n_click_after_signup,
           CAST(count(t3) AS BIGINT) AS n_purchase_after_click,
           CAST(count(t3) AS DOUBLE) / count(t1) AS full_funnel_rate
    FROM p
    """,
)
def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ORDER three-step funnel (signup → click → purchase, each
    step strictly after the previous one's FIRST occurrence) — the
    product-analytics staple that a naive type-count funnel gets wrong
    (a purchase before signup must not count). ONE grouped pass
    collects each user's per-step timestamp arrays; the step chaining
    is pure array algebra on the grouped row (min of the filtered
    array, each filter bound to the previous step's min) — no
    re-joining the event table per step, so the fact scans once and
    shuffles once on user_id. Per-user arrays are activity-bounded,
    not corpus-bounded."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        *[
            F.collect_list(F.when(F.col("event_type") == t, F.col("ts")))
            .alias(f"__{t}")
            for t in ("signup", "click", "purchase")
        ]
    )
    t1 = F.array_min("__signup")
    t2 = F.array_min(F.filter("__click", lambda c: c > t1))
    t3 = F.array_min(F.filter("__purchase", lambda p: p > t2))
    staged = per_user.select(
        t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_click_after_signup"),
        F.count("t3").alias("n_purchase_after_click"),
        (F.count("t3").cast("double") / F.count("t1"))
        .alias("full_funnel_rate"),
    )


_PAGERANK_ORACLE_HEAD = """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
    sim AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS s
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY s DESC, dst) AS rn
            FROM sim) WHERE rn = 1),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM nn UNION ALL SELECT dst FROM nn)),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""

# CAST(... AS DOUBLE) on every literal: DuckDB would otherwise evaluate
# 1.0 - 0.85 in exact DECIMAL (= 0.15), while Spark's F.lit(1.0 - 0.85)
# is the IEEE double 0.15000000000000002 — a last-ulp difference that
# compounds over iterations.
_PAGERANK_ORACLE_STEP = """,
    r{k} AS (
        SELECT n.node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE)
                 * (coalesce(c.inn, CAST(0.0 AS DOUBLE))
                    + CAST(0.0 AS DOUBLE)) AS rank
        FROM nodes n LEFT JOIN (
            SELECT nn.dst AS node,
                   CAST(sum(CAST(floor(r.rank * 1e12 + 0.5)
                                 AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS inn
            FROM nn JOIN r{prev} r ON nn.src = r.node
            GROUP BY nn.dst) c USING (node))"""


@query(
    "graph_pagerank",
    oracle=_PAGERANK_ORACLE_HEAD
    + "".join(_PAGERANK_ORACLE_STEP.format(k=k, prev=k - 1)
              for k in range(1, 11))
    + """
    SELECT node, rank FROM r10 ORDER BY rank DESC, node LIMIT 50
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the embedding nearest-neighbor graph
    (operators/graph.py pagerank, 10 fixed power iterations): which
    vectors sit at the center of their similarity neighborhood — the
    canonical-representative signal near-dup cluster keep-policies use
    beyond plain min-id. Edges are the same per-label top-1 NN pairs
    embedding_nn_clusters builds (cosine_topk_per_row_blas, k=1, no
    score floor).

    Hash-green: per-iteration in-neighbor sums run over 1e-12
    integer micro-units summed exactly in DECIMAL(38,0) (associative —
    partition-order-immune and engine-replayable; fractional
    double→decimal casts disagree across engines, integral ones don't)
    while every per-row op is a single IEEE double op, so all 10
    iterations produce bit-identical ranks on both engines; the oracle
    unrolls the fixed iteration count as chained CTEs. This NN graph
    has out_degree exactly 1 for every node (each row emits one top-1
    edge) and no dangling nodes, which the oracle's simplified blend
    term ((1-0.85) + 0.85*(in + 0.0)) mirrors literally; the numpy
    replica pytest additionally pins values to 1e-9."""
    from ..operators.graph import pagerank
    from ..operators.similarity import cosine_topk_per_row_blas

    e = _t(spark, sf_dir, "embeddings")
    nn = cosine_topk_per_row_blas(
        e, "label", "vec_id", "embedding", k=1, threshold=None,
    ).select("src", "dst")
    return pagerank(nn).orderBy(F.desc("rank"), F.asc("node")).limit(50)


def _segments_band_check(spark_pdf, ref):
    """Band check for ml_patient_segments: the KMeans fit is not SQL-
    replayable, but the segment PROFILE obeys hard algebraic identities
    against the SQL RFM aggregates — sizes partition the patient
    population exactly, every segment mean lies inside the population
    min/max, and the size-weighted segment means recombine to the global
    mean (sum n_i*avg_i = sum), per feature. Any labeling, grouping, or
    feature-build bug breaks at least one identity."""
    errs = []
    if not 1 <= len(spark_pdf) <= 4:
        return [f"{len(spark_pdf)} segments, want 1..4"]
    if spark_pdf["segment"].nunique() != len(spark_pdf):
        errs.append("duplicate segment ids")
    n_total = int(spark_pdf["n_patients"].sum())
    if n_total != int(ref["n_patients_total"]):
        errs.append(f"sizes sum to {n_total}, population is "
                    f"{int(ref['n_patients_total'])}")
    for feat, col in (("recency", "avg_recency"), ("frequency", "avg_frequency"),
                      ("monetary", "avg_monetary")):
        lo, hi = float(ref[f"min_{feat}"]), float(ref[f"max_{feat}"])
        bad = spark_pdf[(spark_pdf[col] < lo - 1e-9) | (spark_pdf[col] > hi + 1e-9)]
        if len(bad):
            errs.append(f"{col} outside population [{lo}, {hi}]: "
                        f"{bad[col].tolist()}")
        glob = float(ref[f"avg_{feat}_global"])
        recomb = float((spark_pdf["n_patients"] * spark_pdf[col]).sum()) / max(n_total, 1)
        if abs(recomb - glob) > 1e-9 * max(1.0, abs(glob)):
            errs.append(f"weighted {col} recombines to {recomb!r}, "
                        f"global mean is {glob!r}")
    return errs


@query(
    "ml_patient_segments",
    # band oracle (local gate): SQL-derived RFM population aggregates the
    # 4-row KMeans profile must be algebraically consistent with — see
    # _segments_band_check. Closes the last rows-only slot pair
    # (r7 verdict item 5).
    band_oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                  DATE '{AS_OF_DATE}') AS DOUBLE) AS recency_days,
             CAST(count(*) AS DOUBLE) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey)
    SELECT CAST(count(*) AS BIGINT) AS n_patients_total,
           min(recency_days) AS min_recency, max(recency_days) AS max_recency,
           avg(recency_days) AS avg_recency_global,
           min(frequency) AS min_frequency, max(frequency) AS max_frequency,
           avg(frequency) AS avg_frequency_global,
           min(monetary) AS min_monetary, max(monetary) AS max_monetary,
           avg(monetary) AS avg_monetary_global
    FROM rfm
    """,
    band_check=_segments_band_check,
)
def ml_patient_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM-style patient segmentation: per patient recency (days since
    last visit), frequency (visit count), monetary (decimal-exact total
    cost) → standardized → MLlib KMeans(4, fixed seed) → per-segment
    profile (size + feature means). The feature build is one grouped
    pass over the fact; fit/transform is the X4 sklearn→MLlib surface
    (reference ml_pipeline.py's clustering analog); output is the
    4-row segment profile, not per-patient labels (cluster ids aren't
    stable across engines — profiles are the meaningful contract)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    from ..config import AS_OF_DATE

    o = _t(spark, sf_dir, "orders")
    feats = (
        o.groupBy(F.col("o_custkey").alias("patient"))
        .agg(
            F.datediff(F.lit(AS_OF_DATE).cast("date"),
                       F.max(F.col("o_orderdate").cast("date")))
            .cast("double").alias("recency_days"),
            F.count(F.lit(1)).cast("double").alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
    )
    if feats.isEmpty():  # backfill edge: KMeans refuses empty input
        return feats.select(
            F.lit(0).alias("segment"),
            F.lit(0).cast("bigint").alias("n_patients"),
            F.lit(0.0).alias("avg_recency"),
            F.lit(0.0).alias("avg_frequency"),
            F.lit(0.0).alias("avg_monetary"),
        ).limit(0)
    va = VectorAssembler(
        inputCols=["recency_days", "frequency", "monetary"],
        outputCol="__raw")
    sc = StandardScaler(inputCol="__raw", outputCol="__feat",
                        withMean=True, withStd=True)
    assembled = va.transform(feats)
    scaled = sc.fit(assembled).transform(assembled)
    km = KMeans(k=4, seed=42, featuresCol="__feat", predictionCol="segment")
    labeled = km.fit(scaled).transform(scaled)
    return (
        labeled.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_patients"),
            F.avg("recency_days").alias("avg_recency"),
            F.avg("frequency").alias("avg_frequency"),
            F.avg("monetary").alias("avg_monetary"),
        )
    )


def _model_eval_band_check(spark_pdf, ref):
    """Band check for ml_model_eval: tree induction is not SQL-
    replayable, but the EVALUATION FRAME is — the md5 holdout split is
    content-addressed (bucket >= 205 ⟺ first two md5 hex chars >= 'cd',
    replayed literally in DuckDB), so n_test must match exactly and
    base_rate to 1e-9 (this certifies the split AND the LEAD-window
    readmission label end-to-end). Model quality gets pinned floors:
    the synthetic dates carry no real signal (AUC measured 0.56-0.60 at
    the gate SFs), so the floors assert non-degeneracy — AUC >= 0.45 and
    accuracy within 0.05 of the majority-class rate — not skill."""
    errs = []
    if len(spark_pdf) != 1:
        return [f"{len(spark_pdf)} rows, want 1"]
    row = spark_pdf.iloc[0]
    if int(row["n_test"]) != int(ref["n_test"]):
        errs.append(f"n_test {int(row['n_test'])} != split-replay "
                    f"{int(ref['n_test'])}")
    br, ref_br = float(row["base_rate"]), float(ref["base_rate"])
    if abs(br - ref_br) > 1e-9:
        errs.append(f"base_rate {br!r} != label-replay {ref_br!r}")
    auc, acc = float(row["auc"]), float(row["accuracy"])
    if not 0.45 <= auc <= 1.0:
        errs.append(f"auc {auc} outside pinned [0.45, 1.0]")
    majority = max(ref_br, 1.0 - ref_br)
    if not majority - 0.05 <= acc <= 1.0:
        errs.append(f"accuracy {acc} below majority-rate floor "
                    f"{majority - 0.05:.4f}")
    return errs


@query(
    "ml_model_eval",
    # band oracle (local gate): DuckDB replays the content-addressed md5
    # holdout split and the readmission label; MLlib's tree induction is
    # the only part floor-checked rather than value-checked — see
    # _model_eval_band_check. Closes the last rows-only slot pair
    # (r7 verdict item 5).
    band_oracle="""
    WITH lab AS (
      SELECT o_custkey,
             CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                  CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE)) <= 30
                  THEN 1 ELSE 0 END AS readmitted
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           avg(CAST(readmitted AS DOUBLE)) AS base_rate
    FROM lab
    WHERE substring(md5(CAST(o_custkey AS VARCHAR)), 1, 2) >= 'cd'
    """,
    band_check=_model_eval_band_check,
)
def ml_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout evaluation of the readmission classifier: deterministic
    md5-hash split (80/20 — the same no-RNG split split_train_val_test
    uses, so train/test membership is content-addressed and
    reproducible), fit on train, score test, report AUC + accuracy +
    base rate in one row. The reference prints sklearn accuracy after
    train_test_split (ml_pipeline.py); this is that contract with the
    split made replayable. Rows-only: tree induction order isn't
    oracle-replayable."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from ..ml.pipeline import build_features, train_readmission_model

    feats = build_features(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 2),
                    16, 10).cast("int")
    train = feats.filter(bucket < 205)   # ~80% of 0..255
    test = feats.filter(bucket >= 205)
    model, assembler, _ = train_readmission_model(train)
    scored = model.transform(assembler.transform(test))
    auc = BinaryClassificationEvaluator(
        labelCol="readmitted_30d", rawPredictionCol="rawPrediction",
        metricName="areaUnderROC").evaluate(scored)
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg((F.col("prediction") == F.col("readmitted_30d")).cast("double"))
        .alias("accuracy"),
        F.avg(F.col("readmitted_30d").cast("double")).alias("base_rate"),
    ).collect()[0]
    return spark.createDataFrame(
        [(int(agg["n_test"]), float(auc), float(agg["accuracy"]),
          float(agg["base_rate"]))],
        "n_test bigint, auc double, accuracy double, base_rate double")


@query(
    "seasonality_index",
    oracle=f"""
    WITH m AS (
        SELECT CAST(month(o_orderdate) AS INTEGER) AS mth,
               {_osum('o_totalprice')} AS rev,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY mth),
    t AS (SELECT {_osum('o_totalprice')} AS tot,
                 CAST(count(*) AS BIGINT) AS total_n FROM orders)
    SELECT mth, rev, n,
           (rev / n) / (tot / total_n) AS seasonal_index
    FROM m, t
    """,
)
def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality: each calendar month's average visit
    cost relative to the overall average (index > 1 = expensive
    season). Two tiny aggregates — the 12-row month rollup and the
    1-row corpus total (bounded broadcast) — over ONE fact scan
    pattern; the index is a ratio of two decimal-exact averages, each
    a single double division, so parity is bitwise."""
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.month("o_orderdate").alias("mth"))
        .agg(dsum("o_totalprice").alias("rev"),
             F.count(F.lit(1)).alias("n"))
    )
    t = o.agg(dsum("o_totalprice").alias("tot"),
              F.count(F.lit(1)).alias("total_n"))
    return (
        m.crossJoin(F.broadcast(t))  # 1-row scalar: bounded
        .select(
            "mth", "rev", "n",
            ((F.col("rev") / F.col("n")) / (F.col("tot") / F.col("total_n")))
            .alias("seasonal_index"),
        )
    )


@query(
    "mom_growth",
    oracle=f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               {_osum('o_totalprice')} AS rev
        FROM orders GROUP BY month)
    SELECT month, rev,
           lag(rev) OVER (ORDER BY month) AS prev_rev,
           (rev - lag(rev) OVER (ORDER BY month))
               / lag(rev) OVER (ORDER BY month) AS mom_growth
    FROM m
    """,
)
def mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: LAG over the monthly rollup.
    The global (unpartitioned) window is safe forever because its
    input is the ALREADY-AGGREGATED month series — tens of rows per
    decade, never raw data (the same already-aggregated-window rule
    window_pct_of_total documents). Growth = (rev − prev) / prev in
    raw doubles on decimal-exact monthly sums — bit-reproducible."""
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                  .cast("timestamp_ntz").alias("month"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("month")  # input is the aggregated month series: tiny
    prev = F.lag("rev").over(w)
    return m.select(
        "month", "rev", prev.alias("prev_rev"),
        ((F.col("rev") - prev) / prev).alias("mom_growth"),
    )


@query(
    "ab_test_welch",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n,
               {_osum('o_totalprice')} AS s,
               {_osum('o_totalprice * o_totalprice')} AS sq
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        GROUP BY segment),
    m AS (
        SELECT segment, n, s / n AS mean,
               (sq - s * s / n) / (n - 1) AS var
        FROM g),
    ab AS (
        SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
               b.n AS n_b, b.mean AS mean_b, b.var AS var_b
        FROM m a JOIN m b
          ON a.segment = 'BUILDING' AND b.segment = 'AUTOMOBILE')
    SELECT n_a, n_b, mean_a, mean_b,
           floor(((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b))
                 * 1000000 + 0.5) / 1000000 AS t_stat,
           floor((((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b))
               / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                  + (var_b / n_b) * (var_b / n_b) / (n_b - 1)))
                 * 1000000 + 0.5) / 1000000 AS welch_df
    FROM ab
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two cohorts (is BUILDING
    spend different from AUTOMOBILE spend?) — the A/B-testing primitive,
    computed exactly: per-group (n, Σx, Σx²) in ONE decimal-exact
    grouped pass (the only fact-scale work), then means, sample
    variances, the t statistic, and the Welch–Satterthwaite degrees of
    freedom as pure scalar algebra on the 2-row aggregate (sqrt is
    IEEE-correctly-rounded everywhere, unlike ln/pow — why BM25 is
    rows-only and this is not); the composed statistics round to 6
    decimals via the floor trick to neutralize FMA contraction."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    ).select("c_custkey", F.col("c_mktsegment").alias("segment"))
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    g = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("s"),
            dsum("o_totalprice * o_totalprice").alias("sq"),
        )
    )
    m = g.select(
        "segment", "n",
        (F.col("s") / F.col("n")).alias("mean"),
        ((F.col("sq") - F.col("s") * F.col("s") / F.col("n"))
         / (F.col("n") - 1)).alias("var"),
    )
    a = m.filter(F.col("segment") == "BUILDING").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"))
    b = m.filter(F.col("segment") == "AUTOMOBILE").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"))
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    # round2(…, 6): the scalar algebra is individually-rounded IEEE ops
    # on both engines, but DuckDB's expression compiler may contract
    # multiply-adds (FMA), shifting the LAST ulp of the composed result
    # — six decimals is far beyond any analytical use of t/df while
    # making the hash immune to contraction differences.
    return a.crossJoin(F.broadcast(b)).select(  # 1-row sides: bounded
        "n_a", "n_b", "mean_a", "mean_b",
        round2((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b), 6)
        .alias("t_stat"),
        round2(((se_a + se_b) * (se_a + se_b))
               / (se_a * se_a / (F.col("n_a") - 1)
                  + se_b * se_b / (F.col("n_b") - 1)), 6).alias("welch_df"),
    )


@query(
    "ri_violations",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_orphans
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
    ORDER BY fk
    """,
)
def ri_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned foreign keys per
    relationship, the load-validation report every warehouse runs after
    ingest (the reference trusts Postgres FK constraints; a lakehouse
    must CHECK). Each relationship is a LEFT ANTI join counted — the
    dimension side deduplicates inside the join build, nothing
    collects driver-side — and the three 1-row results union into one
    report. Keys are non-null in this schema, so NOT IN ≡ anti join
    (no three-valued-logic trap)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")

    def orphans(fact, key, dim, dim_key, label):
        return (
            fact.select(F.col(key))
            .join(dim.select(F.col(dim_key).alias(key)), key, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionAll(orphans(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .orderBy("fk")
    )


@query(
    "abc_classification",
    oracle=f"""
    WITH r AS (
        SELECT c_nationkey, o_custkey,
               {_osum('o_totalprice')} AS rev
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_nationkey, o_custkey),
    w AS (
        SELECT c_nationkey, rev,
               CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY rev DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev,
               CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
                   PARTITION BY c_nationkey) AS DOUBLE) AS tot_rev
        FROM r),
    cls AS (
        SELECT c_nationkey,
               CASE WHEN cum_rev * 1.25 <= tot_rev THEN 'A'
                    WHEN cum_rev * 1.0526315789473684 <= tot_rev THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM w)
    SELECT c_nationkey, abc_class,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM cls GROUP BY c_nationkey, abc_class
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC segmentation per nation: customers sorted by revenue
    contribution, classified by cumulative share (A ≲ 80%, B ≲ 95%,
    C = tail). The cumulative window and the group total share ONE
    nation-key shuffle; the share thresholds are phrased as
    `cum × k ≤ total` with k = 1/0.8 and 1/0.95 — constant doubles, so
    a single multiply and compare replaces a division whose rounding
    could flip a boundary customer between engines. Per-customer
    revenue aggregates in decimal before any windowing."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(dsum("o_totalprice").alias("rev"))
    )
    wc = (Window.partitionBy("c_nationkey")
          .orderBy(F.desc("rev"), F.asc("o_custkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("c_nationkey")
    w = r.select(
        "c_nationkey",
        dsum("rev", over=wc).alias("cum_rev"),
        dsum("rev", over=wt).alias("tot_rev"),
    )
    cls = w.select(
        "c_nationkey",
        F.when(F.col("cum_rev") * 1.25 <= F.col("tot_rev"), "A")
        .when(F.col("cum_rev") * 1.0526315789473684 <= F.col("tot_rev"), "B")
        .otherwise("C").alias("abc_class"),
    )
    return cls.groupBy("c_nationkey", "abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"))


@query(
    "market_basket_pairs",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey),
    n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
    brand_n AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b FROM ob
        GROUP BY p_brand),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY brand_a, brand_b)
    SELECT brand_a, brand_b, n_ab,
           (CAST(n_ab AS DOUBLE) * n)
               / (CAST(na.n_b AS DOUBLE) * nb.n_b) AS lift
    FROM pairs
    JOIN brand_n na ON na.p_brand = brand_a
    JOIN brand_n nb ON nb.p_brand = brand_b
    CROSS JOIN n_orders
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 25
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — which product brands are
    bought together beyond chance (lift = P(ab) / P(a)P(b))? The pair
    join is WITHIN-order (a.l_orderkey = b.l_orderkey), so each order
    contributes at most lines²/2 pairs — bounded by basket size, never
    corpus-quadratic (the same bounded-block rule as rare-feature
    dedup). Distinct (order, brand) first shrinks multi-line brands to
    one row before pairing; brand marginals and the order count are
    bounded broadcasts; lift is one multiply/divide chain of exact
    counts."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand").distinct()
    )
    n_orders = ob.agg(F.countDistinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"),
                 F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"),
                        F.col("n_b").alias("n_a_cnt"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"),
                        F.col("n_b").alias("n_b_cnt"))
    return (
        pairs.join(F.broadcast(na), "brand_a")   # brand domain: bounded
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_orders))        # 1 row: bounded
        .select(
            "brand_a", "brand_b", "n_ab",
            ((F.col("n_ab").cast("double") * F.col("n"))
             / (F.col("n_a_cnt").cast("double") * F.col("n_b_cnt")))
            .alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(25)
    )


@query(
    "cohort_ltv",
    oracle=f"""
    WITH firsts AS (
        SELECT o_custkey,
               min(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
                   AS cohort_month
        FROM orders GROUP BY o_custkey),
    aged AS (
        SELECT f.cohort_month,
               CAST(date_diff('month', f.cohort_month,
                    CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP))
                    AS INTEGER) AS age_months,
               o.o_totalprice
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
    m AS (
        SELECT cohort_month, age_months,
               {_osum('o_totalprice')} AS rev
        FROM aged WHERE year(cohort_month) = 1995
        GROUP BY cohort_month, age_months)
    SELECT cohort_month, age_months, rev,
           CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
               PARTITION BY cohort_month ORDER BY age_months
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_ltv
    FROM m
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: patients grouped by first-visit
    month (the 1995 cohorts), revenue accumulated by months-since-
    acquisition — the curve a growth team reads LTV payback from. The
    cohort assignment is one min-aggregate joined back (each patient's
    cohort is needed on every order row — a join, not a window, so the
    fact never re-sorts); the cumulative curve is a decimal window over
    the ALREADY-AGGREGATED (cohort × age) matrix — bounded rows,
    trivially safe. Month arithmetic stays NTZ on both engines."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice",
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("timestamp_ntz").alias("order_month"))
    firsts = o.groupBy("o_custkey").agg(
        F.min("order_month").alias("cohort_month"))
    aged = (
        o.join(firsts, "o_custkey")
        .filter(F.year("cohort_month") == 1995)
        .select(
            "cohort_month",
            (F.months_between("order_month", "cohort_month"))
            .cast("int").alias("age_months"),
            "o_totalprice",
        )
    )
    m = aged.groupBy("cohort_month", "age_months").agg(
        dsum("o_totalprice").alias("rev"))
    w = (Window.partitionBy("cohort_month").orderBy("age_months")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return m.select(
        "cohort_month", "age_months", "rev",
        dsum("rev", over=w).alias("cum_ltv"),
    )


@query(
    "forecast_seasonal_naive",
    oracle=f"""
    WITH m AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mth,
               {_osum('o_totalprice')} AS rev
        FROM orders GROUP BY yr, mth),
    j AS (
        SELECT cur.yr, cur.mth, cur.rev, prev.rev AS forecast
        FROM m cur JOIN m prev
          ON prev.yr = cur.yr - 1 AND prev.mth = cur.mth)
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_months,
           {_osum('abs(rev - forecast)')} / count(*) AS mae,
           {_osum('abs(rev - forecast)')} / {_osum('abs(rev)')} AS wape
    FROM j GROUP BY yr
    """,
)
def forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict this month =
    same month last year) — the baseline every forecasting system must
    beat, with MAE and WAPE per evaluation year. The month series is a
    tiny aggregate; the year-over-year self-join matches on (yr−1,
    mth) — bounded rows, broadcastable forever; errors are exact
    (|a−b| of decimal-exact sums, decimal-accumulated again for the
    order-free division). A model registry would store these rows as
    the champion-challenger gate."""
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.year("o_orderdate").alias("yr"),
                  F.month("o_orderdate").alias("mth"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    cur, prev = m.alias("cur"), m.alias("prev")
    j = cur.join(
        prev,
        (F.col("prev.yr") == F.col("cur.yr") - 1)
        & (F.col("prev.mth") == F.col("cur.mth")),
    ).select(
        F.col("cur.yr").alias("yr"),
        F.col("cur.rev").alias("rev"),
        F.col("prev.rev").alias("forecast"),
    )
    err = "abs(rev - forecast)"
    return j.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_months"),
        (dsum(err) / F.count(F.lit(1))).alias("mae"),
        (dsum(err) / dsum("abs(rev)")).alias("wape"),
    )


@query(
    "user_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events),
    isl AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        FROM d),
    streaks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days,
               min(day) AS streak_start
        FROM isl GROUP BY user_id, grp)
    SELECT user_id,
           max(streak_days) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    ORDER BY longest_streak DESC, user_id
    LIMIT 25
    """,
)
def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user
    (engagement analysis). The island id is the classic `day −
    row_number()` trick — consecutive days share a constant difference,
    so islands materialize with ONE user-partitioned window (no
    self-join on day+1 chains, which re-joins per streak day). All
    three stages (distinct, window, both aggregates) cluster on
    user_id: one shuffle serves the entire query."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ev.select(
        "user_id", "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_days"))
    return (
        streaks.groupBy("user_id")
        .agg(F.max("streak_days").alias("longest_streak"),
             F.count(F.lit(1)).alias("n_streaks"))
        .orderBy(F.desc("longest_streak"), F.asc("user_id"))
        .limit(25)
    )


# Micro-unit scales for the bit-reproducible power iteration: per-row
# contributions are floor(x·Q + 0.5)-quantized to int64 before the
# cross-row sum, making every aggregate partition-order-immune and
# replayable by the oracle (the graph_pagerank discipline). Range check
# at sf1 (60k rows, |x|≤4, |x·v|≤32): contrib sums < 8e15, d²/‖x‖² sums
# < 7e16 — inside int64; norm² uses exact Python/HUGEINT integers.
_EIG_Q = 1 << 30
_EIG_QMU = 1 << 24
_EIG_DIM = 64
_EIG_ROUNDS = 8


def _top_eigen_oracle(dim: int = _EIG_DIM, rounds: int = _EIG_ROUNDS) -> str:
    """Unrolled-CTE replay of embedding_top_eigen: each round re-derives
    v from integer micro-unit sums, so the doubles agree bit-for-bit
    with the Spark/driver loop at every iteration."""
    q, qmu = _EIG_Q, _EIG_QMU
    cx_terms = ", ".join(f"(e[{i}] - mu[{i}])" for i in range(1, dim + 1))
    v0 = ", ".join(["0.125"] * dim)
    parts = [f"""
    v0 AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    grid AS (SELECT unnest(generate_series(1, {dim})) AS i),
    mup AS (
        SELECT g.i AS pos,
               CAST(sum(CAST(floor(e[g.i] * {qmu} + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(*) * {qmu}.0) AS m
        FROM v0, grid g GROUP BY g.i),
    mua AS (SELECT list(m ORDER BY pos) AS mu FROM mup),
    cx AS MATERIALIZED (SELECT [{cx_terms}] AS x FROM v0, mua),
    r0 AS (SELECT [{v0}]::DOUBLE[] AS v)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
    d{k} AS (SELECT x, list_dot_product(x, r.v) AS d FROM cx, r{k - 1} r),
    s{k} AS (SELECT g.i AS pos,
                    CAST(sum(CAST(floor(x[g.i] * d * {q} + 0.5) AS BIGINT))
                         AS BIGINT) AS si
             FROM d{k}, grid g GROUP BY g.i),
    n{k} AS (SELECT sqrt(CAST(sum(CAST(si AS HUGEINT) * si) AS DOUBLE))
                    / {q}.0 AS nrm FROM s{k}),
    r{k} AS MATERIALIZED (
        SELECT list((CAST(si AS DOUBLE) / {q}.0) / n.nrm ORDER BY pos) AS v
        FROM s{k}, n{k} n GROUP BY n.nrm)""")
    parts.append(f""",
    fin AS (SELECT x, list_dot_product(x, r.v) AS d FROM cx, r{rounds} r),
    stats AS (
        SELECT CAST(sum(CAST(floor(d * d * {q} + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(sum(CAST(floor(list_dot_product(x, x) * {q} + 0.5)
                               AS BIGINT)) AS DOUBLE) AS share
        FROM fin),
    sgn AS (SELECT CASE WHEN list_filter(r.v, c -> abs(c) > 1e-12)[1] < 0
                        THEN -1.0 ELSE 1.0 END AS s
            FROM r{rounds} r)
    SELECT stats.share AS explained_var_share,
           {", ".join(f"r.v[{i}] * sgn.s AS c{i}" for i in range(1, 9))}
    FROM stats, sgn, r{rounds} r
    """)
    return "WITH" + "".join(parts)


@query("embedding_top_eigen", oracle=_top_eigen_oracle())
def embedding_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (centered) embedding cloud by
    MATRIX-FREE power iteration — PCA's first component without ever
    materializing the 64×64 covariance: each round computes
    v ← normalize(Σᵢ xᵢ (xᵢ·v)) as one posexplode aggregate (row dot
    products stay in codegen; the per-dimension sum is a 64-group
    hash aggregate), so the per-round cost is one corpus scan and one
    tiny shuffle at ANY dimensionality — the estimator a 100 TB
    embedding table can actually afford. 8 fixed iterations from a
    deterministic start; sign fixed by the first nonzero component.
    Output: explained-variance share + the leading 8 components.
    Hash-green: every cross-row sum is quantized to int64 micro-units
    first (floor(·2^30 + 0.5)) — partition-order-immune AND replayed by
    the oracle's unrolled 8-round CTE chain; the norm uses exact integer
    Σsi² (Python bigint ≡ DuckDB HUGEINT), so the normalized doubles
    agree bit-for-bit every round."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    out_schema = ("explained_var_share double, " +
                  ", ".join(f"c{i} double" for i in range(1, 9)))
    if emb.isEmpty():
        return spark.createDataFrame([], out_schema)
    q, qmu = float(_EIG_Q), float(_EIG_QMU)
    mean_rows = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos").agg(
            F.sum(F.floor(F.col("val").cast("double") * qmu + F.lit(0.5))
                  .cast("long")).alias("si"),
            F.count(F.lit(1)).alias("n"))
        .orderBy("pos").collect()
    )
    mu = [r["si"] / (r["n"] * qmu) for r in mean_rows]
    dim = len(mu)
    mu_lit = F.array(*[F.lit(float(v)) for v in mu])
    centered = emb.select(
        F.zip_with("embedding", mu_lit,
                   lambda x, m: x.cast("double") - m).alias("x"))
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(_EIG_ROUNDS):
        v_lit = F.array(*[F.lit(float(c)) for c in v])
        dot_xv = F.aggregate(
            F.zip_with("x", v_lit, lambda a, b: a * b),
            F.lit(0.0), lambda acc, p: acc + p)
        sums = (
            centered.select(
                F.posexplode(F.transform("x", lambda a: a * dot_xv))
                .alias("pos", "contrib"))
            .groupBy("pos").agg(
                F.sum(F.floor(F.col("contrib") * q + F.lit(0.5))
                      .cast("long")).alias("si"))
            .orderBy("pos").collect()
        )
        si = [int(r["si"]) for r in sums]
        # exact integer Σsi² (unbounded Python int ≡ DuckDB HUGEINT),
        # one float conversion, one correctly-rounded sqrt, one exact
        # power-of-two division — bit-equal on both engines.
        nrm = math.sqrt(float(sum(s * s for s in si))) / q
        v = [(s / q) / nrm for s in si]
    first_nz = next(c for c in v if abs(c) > 1e-12)
    sign = -1.0 if first_nz < 0 else 1.0
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    dot_xv = F.aggregate(
        F.zip_with("x", v_lit, lambda a, b: a * b),
        F.lit(0.0), lambda acc, p: acc + p)
    xx = F.aggregate(F.transform("x", lambda a: a * a),
                     F.lit(0.0), lambda acc, p: acc + p)
    tot = centered.select(
        F.sum(F.floor(dot_xv * dot_xv * q + F.lit(0.5)).cast("long")).alias("lam_i"),
        F.sum(F.floor(xx * q + F.lit(0.5)).cast("long")).alias("tot_i"),
    ).collect()[0]
    share = float(tot["lam_i"]) / float(tot["tot_i"])
    return spark.createDataFrame(
        [tuple([share] + [float(c) * sign for c in v[:8]])], out_schema)


@query(
    "agg_retractable_merge",
    oracle=f"""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           {_osum('o_totalprice')} AS sum_v
    FROM orders WHERE o_orderkey % 10 <> 3
    GROUP BY o_orderstatus
    """,
)
def agg_retractable_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate maintenance UNDER DELETES: the materialized per-key
    state (count, decimal sum over ALL orders) absorbs a retraction
    delta (the rows with orderkey % 10 = 3, weighted −1) by monoid
    merge — state + Σ(sign·x), Σ(sign) — and the result provably
    equals re-aggregating the post-delete table (the oracle does
    exactly that). Count and decimal-sum are abelian-group aggregates
    (inverses exist), which is WHY a CDC delete feed can maintain them
    without rescanning history; min/max are deliberately absent — they
    are not retractable, and a design that pretends otherwise silently
    serves stale extremes after a delete. Both the base state and the
    delta are one partial-agg shuffle each, merged at state size."""
    o = _t(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             dec_sum("o_totalprice").alias("s"))
    )
    deletes = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .groupBy("o_orderstatus")
        .agg((-F.count(F.lit(1))).alias("n"),
             (-dec_sum("o_totalprice")).alias("s"))
    )
    merged = (
        base.unionAll(deletes)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "o_orderstatus", "n", F.col("s").cast("double").alias("sum_v"))


@query(
    "late_arrival_report",
    oracle="""
    WITH a AS (
        SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id
                             ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) AS high_water
        FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN high_water - ts > INTERVAL 2 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           max(CASE WHEN high_water - ts > INTERVAL 2 HOUR
                    THEN epoch_us(high_water - ts) END) AS worst_lag_us
    FROM a GROUP BY user_id
    HAVING sum(CASE WHEN high_water - ts > INTERVAL 2 HOUR
                    THEN 1 ELSE 0 END) > 0
    ORDER BY n_late DESC, user_id
    """,
)
def late_arrival_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark observability: which users produce events that arrive
    LATER than a 2-hour watermark would tolerate (arrival order =
    event_id; an event is late when the user's running event-time
    high-water mark is already >2h past it). This is the report that
    justifies a watermark setting before data silently drops — per
    user: event count, late count, worst lag in exact microseconds
    (epoch_us arithmetic, no float time). One user-partitioned window
    (running max reuses arrival order), then the rollup on the same
    key — one shuffle total."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    a = ev.select(
        "user_id", "ts", F.max("ts").over(w).alias("high_water"))
    lag_us = (F.unix_micros(F.col("high_water").cast("timestamp"))
              - F.unix_micros(F.col("ts").cast("timestamp")))
    is_late = lag_us > 2 * 3600 * 1_000_000
    return (
        a.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_late, 1).otherwise(0)).alias("n_late"),
            F.max(F.when(is_late, lag_us)).alias("worst_lag_us"),
        )
        .filter(F.col("n_late") > 0)
        .orderBy(F.desc("n_late"), F.asc("user_id"))
    )


@query(
    "interval_coverage",
    oracle="""
    WITH iv AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE) + 30 AS e
        FROM orders),
    m AS (
        SELECT o_custkey, s, e,
               max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_high
        FROM iv),
    isl AS (
        SELECT o_custkey, s, e,
               CAST(sum(CASE WHEN prev_high IS NULL OR s > prev_high
                             THEN 1 ELSE 0 END) OVER (
                   PARTITION BY o_custkey ORDER BY s, e
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        FROM m),
    merged AS (
        SELECT o_custkey, island, min(s) AS cov_start, max(e) AS cov_end
        FROM isl GROUP BY o_custkey, island)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_coverage_periods,
           CAST(sum(date_diff('day', cov_start, cov_end)) AS BIGINT)
               AS covered_days
    FROM merged GROUP BY o_custkey
    ORDER BY covered_days DESC, o_custkey
    LIMIT 25
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval consolidation — each visit opens a 30-day
    coverage window; overlapping windows merge into continuous coverage
    periods (the episode-of-care construction, and the general 'merge
    overlapping ranges' temporal op). A new period starts exactly when
    an interval's start clears the running max of all PRIOR ends (the
    1-preceding frame — the current row must not see its own end);
    the island id is a running sum of those period-start flags. Two
    windows and two aggregates, all clustered on the customer key: one
    shuffle end to end, no interval self-joins."""
    iv = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"))
    wp = (Window.partitionBy("o_custkey").orderBy("s", "e")
          .rowsBetween(Window.unboundedPreceding, -1))
    wi = (Window.partitionBy("o_custkey").orderBy("s", "e")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    m = iv.select("o_custkey", "s", "e",
                  F.max("e").over(wp).alias("prev_high"))
    isl = m.select(
        "o_custkey", "s", "e",
        F.sum(
            F.when(F.col("prev_high").isNull()
                   | (F.col("s") > F.col("prev_high")), 1).otherwise(0)
        ).over(wi).alias("island"))
    merged = isl.groupBy("o_custkey", "island").agg(
        F.min("s").alias("cov_start"), F.max("e").alias("cov_end"))
    return (
        merged.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_coverage_periods"),
             F.sum(F.datediff("cov_end", "cov_start")).alias("covered_days"))
        .orderBy(F.desc("covered_days"), F.asc("o_custkey"))
        .limit(25)
    )


@query(
    "drift_chisq",
    oracle="""
    WITH a AS (
        SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT) AS n_a
        FROM orders WHERE year(o_orderdate) = 1995 GROUP BY bucket),
    b AS (
        SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT) AS n_b
        FROM orders WHERE year(o_orderdate) = 1997 GROUP BY bucket),
    j AS (
        SELECT COALESCE(a.bucket, b.bucket) AS bucket,
               COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
               (SELECT sum(n_a) FROM a) AS tot_a,
               (SELECT sum(n_b) FROM b) AS tot_b
        FROM a FULL OUTER JOIN b ON a.bucket = b.bucket)
    SELECT bucket, n_a, n_b,
           CAST(n_a AS DOUBLE) / tot_a AS p_ref,
           CAST(n_b AS DOUBLE) / tot_b AS p_cur,
           (CAST(n_b AS DOUBLE) / tot_b - CAST(n_a AS DOUBLE) / tot_a)
               * (CAST(n_b AS DOUBLE) / tot_b - CAST(n_a AS DOUBLE) / tot_a)
               / (CAST(n_a AS DOUBLE) / tot_a) AS chisq_contrib
    FROM j
    """,
)
def drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the diagnosis-priority mix of 1997
    vs the 1995 reference, per-bucket chi-square contributions
    ((p_cur − p_ref)² / p_ref) — the alert a feature store raises when
    a categorical's distribution shifts. Chi-square, not PSI: PSI's
    ln(p/q) term rides libm and would force rows-only certification,
    while this statistic is pure subtract/multiply/divide — bitwise
    oracle parity for free. Two bucket-rollups (bounded domain), their
    totals as 1-row broadcasts, one full-outer merge on the bucket
    key; new-in-current buckets surface with p_ref = 0 rather than
    silently vanishing (the drift you most need to see)."""
    o = _t(spark, sf_dir, "orders")
    a = (o.filter(F.year("o_orderdate") == 1995)
         .groupBy(F.col("o_orderpriority").alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n_a")))
    b = (o.filter(F.year("o_orderdate") == 1997)
         .groupBy(F.col("o_orderpriority").alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n_b")))
    tot_a = a.agg(F.sum("n_a").alias("tot_a"))
    tot_b = b.agg(F.sum("n_b").alias("tot_b"))
    j = (
        a.join(b, "bucket", "full_outer")
        .select("bucket",
                F.coalesce("n_a", F.lit(0)).alias("n_a"),
                F.coalesce("n_b", F.lit(0)).alias("n_b"))
        .crossJoin(F.broadcast(tot_a))  # 1-row scalars: bounded
        .crossJoin(F.broadcast(tot_b))
    )
    p_ref = F.col("n_a").cast("double") / F.col("tot_a")
    p_cur = F.col("n_b").cast("double") / F.col("tot_b")
    return j.select(
        "bucket", "n_a", "n_b",
        p_ref.alias("p_ref"), p_cur.alias("p_cur"),
        ((p_cur - p_ref) * (p_cur - p_ref) / p_ref).alias("chisq_contrib"),
    )


@query(
    "bow_cosine_pairs",
    oracle=r"""
    WITH tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS term
              FROM documents WHERE doc_id % 7 = 0)
        GROUP BY doc_id, term),
    nrm AS (
        SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nrm
        FROM tf GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(sum(a.tf * b.tf) AS DOUBLE) AS dot
        FROM tf a JOIN tf b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b)
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS bow_cosine
    FROM dots
    JOIN nrm na ON na.doc_id = id_a
    JOIN nrm nb ON nb.doc_id = id_b
    """,
)
def bow_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse bag-of-words cosine similarity, RELATIONALLY: documents as
    sparse tf vectors over the vocabulary, the dot product as a
    term-key join + integer-sum (only co-occurring terms contribute —
    exactly the sparsity a dense array formulation wastes), norms as
    per-doc aggregates, cosine = dot/(‖a‖‖b‖) in exact arithmetic
    (integer tf products, IEEE sqrt). This is how sparse similarity
    actually scales: the shuffle key is the TERM, so cost follows
    posting-list sizes, not vector dimensionality — the same
    deterministic id-sample bounds the demo pair set as in
    dedup_ngram_jaccard; production input is blocked candidates."""
    from ..operators.skew import spread
    from ..operators.text import tokens

    d = spread(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0),
        "doc_id")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    nrm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm"))
    a, b = tf.alias("a"), tf.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a").join(nb, "id_b")
        .select("id_a", "id_b",
                (F.col("dot") / (F.col("na") * F.col("nb")))
                .alias("bow_cosine"))
    )


@query(
    "engagement_decay_score",
    oracle=f"""
    WITH e AS (
        SELECT user_id, value,
               greatest(0, least(CAST(date_diff('day', CAST(ts AS DATE),
                                                DATE '{AS_OF_DATE}')
                                      // 30 AS INTEGER), 62)) AS k
        FROM events)
    SELECT user_id,
           CAST(sum(CAST(value / CAST(1 << k AS DOUBLE)
                         AS DECIMAL(24,12))) AS DOUBLE) AS decay_score,
           CAST(count(*) AS BIGINT) AS n_events
    FROM e GROUP BY user_id
    ORDER BY decay_score DESC, user_id
    LIMIT 25
    """,
)
def engagement_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score: each event's value halves for
    every 30 days of age (Σ value · 2^(−age/30)) — the churn-risk /
    engagement ranking every growth stack computes. The decay is a
    DIVISION BY A POWER OF TWO (1 << k), which IEEE doubles perform
    exactly — where the textbook exp(−λt) rides libm and would force
    rows-only certification, halving buckets keep the score
    hash-matched bit for bit (terms round to DECIMAL(24,12) before the
    order-free sum, the dsum discipline). One grouped pass. The shift
    amount is clamped to [0, 62]: the upper bound so ancient events
    underflow gracefully instead of overflowing the shift, the lower
    bound because Spark's shiftleft wraps negative amounts mod 64 (an
    event newer than as-of would otherwise diverge from the oracle,
    where trunc-vs-floor division also disagrees below zero). As-of
    comes from config.AS_OF_DATE, the engine-wide "today"."""
    ev = _t(spark, sf_dir, "events")
    k = F.greatest(
        F.lit(0),
        F.least(
            (F.datediff(F.lit(AS_OF_DATE).cast("date"),
                        F.col("ts").cast("date")) / 30).cast("int"),
            F.lit(62)))
    ev = ev.select("user_id", "value", k.alias("__k"))
    # expr(): the Python shiftleft wrapper takes only literal shift
    # amounts; the SQL function accepts a column
    term = F.col("value") / F.expr("cast(shiftleft(1L, __k) as double)")
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum(term.cast("decimal(24,12)")).cast("double")
            .alias("decay_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("decay_score"), F.asc("user_id"))
        .limit(25)
    )
