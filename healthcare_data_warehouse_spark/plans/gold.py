"""Gold layer: materialized report tables.

Reference analog: Streamlit's 300s result cache (dashboard.py:77) and the
Metabase dashboard cards (README.md:230-247) — pre-computed aggregates
served without touching the fact. In a Spark warehouse the equivalent is
a materialization boundary: the report queries are written as small gold
parquet tables on a schedule; dashboards read the gold paths.

The freshness contract is explicit (the writer records a manifest) rather
than a TTL cache — at 100 TB you want deterministic refresh, not
per-process memoization.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from . import catalog

# The dashboard card set (Q1-Q13 shapes that the reference serves hot).
GOLD_QUERIES = (
    "agg_by_agegroup",
    "topk_diagnoses",
    "provider_utilization",
    "agg_monthly_trend",
    "visittype_distribution",
    "geo_distribution",
    "case_visit_cohorts",
    "union_dq_report",
    "scalar_subquery",
)


def materialize_gold(spark: SparkSession, sf_dir: str, gold_dir: str,
                     queries: tuple[str, ...] = GOLD_QUERIES) -> dict:
    """Run each gold query and persist its (small) result as parquet.
    Returns the manifest (also written to gold_dir/_manifest.json).

    Every card is checked against the SURVEY §7.3 invariant before
    anything is written: the physical plan must not scan a
    PII column (gold is post-staging — only the dim builders are
    licensed to read raw ``c_name``, and only to hash it). A violating
    query raises ``PIILeakError`` and nothing is materialized for it."""
    from ..operators.pii_guard import assert_no_pii_scan

    qs = catalog.queries()
    # Pre-pass: raises before anything is materialized.
    for name in queries:
        assert_no_pii_scan(qs[name](spark, sf_dir))
    manifest: dict = {"sf_dir": sf_dir, "tables": {}}
    small_file_rows = 100_000
    for name in queries:
        df = qs[name](spark, sf_dir)
        path = os.path.join(gold_dir, name)
        # Single-file output is a dashboard nicety, not a requirement:
        # only coalesce when the result is actually report-sized, so a
        # gold query that unexpectedly returns a large result keeps a
        # parallel final stage instead of silently single-threading
        # the write.
        n = df.count()
        out = df.coalesce(1) if n <= small_file_rows else df
        out.write.mode("overwrite").parquet(path)
        manifest["tables"][name] = {
            "rows": n,
            "refreshed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
    os.makedirs(gold_dir, exist_ok=True)
    with open(os.path.join(gold_dir, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest

