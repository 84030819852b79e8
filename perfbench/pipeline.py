"""``pipeline``: the warehouse DAG, ``runner.run_pipeline``.

Each timed run writes into a fresh output directory: dims, the
year-partitioned fact, the privacy audit, ML predictions with an upsert,
and the audit-trail read. Runs repeat until ``--seconds`` have elapsed
(at least one). Each run's summary is checked outside its timed call: dim
and fact row counts and the fact's year partitions against the fixture,
the privacy verdicts, and three LOAD audit events per run.
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import spans
from perfbench.harness import Bench, Outcome, quiesce
from perfbench.layers import per_layer, storage_extra, storage_mark

# module path -> (function, span name); the names runner imports or
# imports at call time
TRACED = {
    "healthcare_data_warehouse_spark.runner": [
        ("dim_customer", "star.dim_customer"),
        ("dim_supplier", "star.dim_supplier"),
        ("fact_orders", "star.fact_orders"),
        ("write_fact_partitioned", "star.write_fact_partitioned"),
        ("privacy_audit_report", "privacy.audit_report"),
        ("log_audit", "audit.log_audit"),
        ("read_audit_log", "audit.read_audit_log"),
    ],
    "healthcare_data_warehouse_spark.ml.pipeline": [
        ("predict_readmission", "ml.predict_readmission"),
        ("anomaly_scores", "ml.anomaly_scores"),
    ],
    "healthcare_data_warehouse_spark.sources.sinks": [
        ("upsert_to_path", "sinks.upsert_to_path"),
    ],
    "healthcare_data_warehouse_spark.sources.loaders": [
        ("load_table", "loaders.load_table"),
    ],
}


def _expected(sf_dir: str) -> dict:
    def rows(t: str) -> int:
        return pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows

    dates = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                          columns=["o_orderdate"])["o_orderdate"]
    years = sorted(pc.unique(pc.year(dates)).to_pylist())
    return {"customer": rows("customer"), "supplier": rows("supplier"),
            "orders": rows("orders"), "years": years}


def _check(summary: dict, want: dict, run_no: int, out: Outcome) -> None:
    st = summary["stages"]
    checks = {
        "dims": (st["dims"]["dim_customer_rows"] == want["customer"]
                 and st["dims"]["dim_supplier_rows"] == want["supplier"]),
        "fact": (st["fact"]["rows"] == want["orders"]
                 and st["fact"]["partitions"] == want["years"]),
        "privacy_audit": all(v.get("passed") is True
                             for v in st["privacy_audit"].values()),
        "ml": st["ml"]["predictions"] > 0,
        "audit_log": st["audit_log"]["by_action"].get("LOAD") == 3 * run_no,
    }
    for stage, ok in checks.items():
        out.attempted += 1
        if not ok:
            out.fail(f"run {run_no} stage {stage}: {st.get(stage)}")


def _timed_runs(b: Bench, want: dict, out: Outcome, runs: int | None) -> None:
    from healthcare_data_warehouse_spark import runner

    n = 0
    quiesce(b.spark)
    region = time.perf_counter()
    while True:
        n += 1
        dest = os.path.join(b.run_dir, "out", f"warehouse{len(out.walls_s) + 1}")
        t0 = time.perf_counter()
        with b.tracer.span("pipeline.pass"):
            summary = runner.run_pipeline(b.spark, b.sf_dir, dest)
        wall = time.perf_counter() - t0
        out.walls_s.append(wall)
        out.latencies_s.append(wall)
        _check(summary, want, len(out.walls_s), out)
        if (runs is not None and n >= runs) or (
                runs is None and time.perf_counter() - region >= b.seconds):
            break


def run(b: Bench, root: str) -> Outcome:
    import importlib

    from healthcare_data_warehouse_spark import runner

    out = Outcome()
    want = _expected(b.sf_dir)
    b.setup["warm_s"] = 0.0
    if not b.traced:
        _timed_runs(b, want, out, None)
        return out

    for mod_name, fns in TRACED.items():
        mod = importlib.import_module(mod_name)
        for attr, span_name in fns:
            b.tracer.patch(mod, attr, span_name)
    b.tracer.patch(runner, "run_pipeline", "runner.run_pipeline")
    mark, before = spans.job_max_id(b.spark), storage_mark(b)
    _timed_runs(b, want, out, 1)
    extra = storage_extra(b, before)
    extra["trace.wall_s"] = out.walls_s[-1]
    out.layers = per_layer(b, "pipeline.pass", spans.spark_jobs(b.spark, mark), extra)
    return out
