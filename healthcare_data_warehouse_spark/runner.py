"""End-to-end warehouse pipeline runner — the engine's "master DAG".

Reference analog: the Airflow orchestration (airflow_dags.py:127-162)
sequencing ETL (scripts/etl.py) → dbt transform → privacy audit
(privacy_engine.py) → ML (ml_pipeline.py). Here the whole DAG is one
Spark driver program; each stage materializes a layer (bronze dims/fact →
gold reports), audit events are appended per stage, and the run emits a
single JSON summary.

As in Airflow, DAG tasks with no edge between them run side by side:
the privacy audit and the ML branch read only the raw ``sf_dir`` tables,
never the dims or the fact, so {dims → fact}, {privacy audit} and
{readmission predict → upsert, anomaly scores} run on their own driver
threads, and Spark's scheduler runs their jobs on the cores the others
leave free. The audit-trail stage runs after all three have returned.

    python -m healthcare_data_warehouse_spark.runner \
        [--sf-dir /root/testdata/sf0.001] [--out .scratch/warehouse]

On a cluster the identical program is a spark-submit job triggered by any
scheduler; cadence (hourly ETL / daily transform / weekly ML,
airflow_dags.py:39-108) stays in the scheduler, not in engine code.
"""

from __future__ import annotations

import argparse
import contextvars
import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config import SCRATCH_DIR, SMOKE_SF_DIR
from .operators.keys import release
from .operators.privacy import privacy_audit_report
from .plans.star import dim_customer, dim_supplier, fact_orders, write_fact_partitioned
from .session import get_spark
from .sources.audit import log_audit, read_audit_log


def _star(spark, sf_dir: str, out_dir: str) -> dict:
    """ETL + dimensions (etl.py / dim_*.sql analog), then the fact,
    partitioned by year (fact_visits.sql). Each key build's persist is
    released once the write that consumes it has returned."""
    pins: list = []
    try:
        dim_c = dim_customer(spark, sf_dir, pins=pins)
        dim_s = dim_supplier(spark, sf_dir, pins=pins)
        dim_c.write.mode("overwrite").parquet(os.path.join(out_dir, "dim_customer"))
        dim_s.write.mode("overwrite").parquet(os.path.join(out_dir, "dim_supplier"))
        log_audit(spark, "LOAD", "dim_customer", details=f"sf_dir={sf_dir}")
        log_audit(spark, "LOAD", "dim_supplier", details=f"sf_dir={sf_dir}")
        dims = {
            "dim_customer_rows": dim_c.count(),
            "dim_supplier_rows": dim_s.count(),
        }
        release(pins)

        dim_c_back = spark.read.parquet(os.path.join(out_dir, "dim_customer"))
        fact = fact_orders(spark, sf_dir, dim_c=dim_c_back, pins=pins)
        write_fact_partitioned(fact, os.path.join(out_dir, "fact_orders"))
    finally:
        release(pins)
    log_audit(spark, "LOAD", "fact_orders", details=f"sf_dir={sf_dir}")
    r = spark.read.parquet(os.path.join(out_dir, "fact_orders")).agg(
        F.count("*").alias("rows"),
        F.array_sort(F.collect_set("order_year")).alias("partitions"),
        F.count_if(F.col("cost_with_privacy") < 0).alias("negative"),
    ).collect()[0]
    return {"dims": dims, "fact": {
        "rows": r["rows"],
        "partitions": list(r["partitions"]),
        "noise_clamped_negative_rows": r["negative"],
    }}


def _privacy_audit(spark, sf_dir: str) -> dict:
    """Privacy audit (privacy_engine.py analog) over the raw tables."""
    from .sources.loaders import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment", "c_nationkey", "o_orderpriority"
    )
    return privacy_audit_report(
        joined, ["c_mktsegment", "c_nationkey"], "o_orderpriority"
    )


def _ml(spark, sf_dir: str, out_dir: str) -> dict:
    """ML (ml_pipeline.py analog): readmission scores upserted into
    ml_predictions, then the anomaly flags."""
    from .ml.pipeline import anomaly_scores, predict_readmission
    from .sources.sinks import upsert_to_path

    preds = predict_readmission(spark, sf_dir)
    stored = upsert_to_path(
        spark, os.path.join(out_dir, "ml_predictions"), preds, ["visit_id"]
    )
    anomalies = anomaly_scores(spark, sf_dir)
    return {
        "predictions": stored.count(),
        "anomalies_flagged": anomalies.count(),
    }


def _run_branches(spark, branches: list[Callable[[], dict]]) -> list[dict]:
    """Run the DAG's independent branches concurrently, one driver thread
    each, and return their results in order. Each thread inherits the
    caller's Spark local properties (job group, scheduler pool) and
    context variables (the ``decisions`` query scope). Every branch runs
    to its end; then the first branch error, if any, is raised."""
    with ThreadPoolExecutor(max_workers=len(branches),
                            thread_name_prefix="hdw-dag") as pool:
        futures = [
            pool.submit(contextvars.copy_context().run,
                        inheritable_thread_target(spark)(branch))
            for branch in branches
        ]
    for f in futures:
        if (err := f.exception()) is not None:
            raise err
    return [f.result() for f in futures]


def run_pipeline(spark, sf_dir: str, out_dir: str) -> dict:
    # Longest branch first: Spark's FIFO scheduler serves the earliest
    # submitted job first, and ML is the DAG's critical path.
    ml, star, privacy = _run_branches(spark, [
        lambda: _ml(spark, sf_dir, out_dir),
        lambda: _star(spark, sf_dir, out_dir),
        lambda: _privacy_audit(spark, sf_dir),
    ])
    # --- audit trail summary (Q10 analog), after every branch ----------
    by_action = {
        r["action_type"]: r["count"]
        for r in read_audit_log(spark).groupBy("action_type").count().collect()
    }
    return {"sf_dir": sf_dir, "out_dir": out_dir, "stages": {
        **star,
        "privacy_audit": privacy,
        "ml": ml,
        "audit_log": {"events": sum(by_action.values()), "by_action": by_action},
    }}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=SMOKE_SF_DIR)
    ap.add_argument("--out", default=os.path.join(SCRATCH_DIR, "warehouse"))
    args = ap.parse_args()
    spark = get_spark("hdw-pipeline")
    summary = run_pipeline(spark, args.sf_dir, args.out)
    print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
