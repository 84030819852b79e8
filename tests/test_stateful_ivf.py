"""Tests for the stateful streaming operator and IVF ANN."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.sources.loaders import load_table

from conftest import SF_SMOKE


def test_stateful_profiles_match_batch_totals(spark):
    from healthcare_data_warehouse_spark.plans.catalog import queries
    from healthcare_data_warehouse_spark.streaming.stateful import batch_user_profiles

    stream_out = queries()["stream_user_profiles"](spark, SF_SMOKE)
    batch = batch_user_profiles(load_table(spark, SF_SMOKE, "events"))
    s = {(r["user_id"], r["total_events"], round(r["total_value"], 4))
         for r in stream_out.collect()}
    b = {(r["user_id"], r["total_events"], round(r["total_value"], 4))
         for r in batch.collect()}
    assert s == b


def _query_vec(emb):
    return emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]


def _exact_sims(emb):
    from healthcare_data_warehouse_spark.operators.similarity import brute_force_topk

    return {r["vec_id"]: r["cosine_sim"]
            for r in brute_force_topk(emb, query_vec_id=0, k=10**6).collect()}


def _exact_top10(emb):
    from healthcare_data_warehouse_spark.operators.similarity import brute_force_topk

    return [r["vec_id"] for r in brute_force_topk(emb, query_vec_id=0, k=10).collect()]


def test_ivf_topk_scores_are_exact_cosines_and_good_recall(spark, tmp_path):
    from healthcare_data_warehouse_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "ivf")
    ivf_build_index(emb, index_dir, n_lists=8)
    approx = ivf_topk_indexed(spark, index_dir, _query_vec(emb), k=10,
                              n_probe=4, exclude_id=0).collect()
    assert 0 < len(approx) <= 10
    exact_sims = _exact_sims(emb)
    for r in approx:
        assert abs(r["cosine_sim"] - exact_sims[r["vec_id"]]) < 1e-12
    # recall against exact top-10 (random data → probing half the lists
    # should still recover a decent fraction)
    recall = len({r["vec_id"] for r in approx} & set(_exact_top10(emb))) / 10
    assert recall >= 0.3


def test_ivf_indexed_prunes_partitions(spark, tmp_path):
    from healthcare_data_warehouse_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_lists,
        ivf_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "ivf")
    centers = ivf_build_index(emb, index_dir, n_lists=8)
    assert len(centers) == 8

    qvec = _query_vec(emb)
    indexed = ivf_topk_indexed(spark, index_dir, qvec, k=10, n_probe=4, exclude_id=0)

    # The scan must be partition-PRUNED to the n_probe lists: list_id is a
    # partition column, so the isin shows up in PartitionFilters, and the
    # pruned scan reads at most n_probe of the 8 list directories.
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan

    probe = ivf_probe_lists(centers, qvec, n_probe=4)
    files = {
        r["f"] for r in
        spark.read.parquet(str(tmp_path / "ivf" / "vectors"))
        .filter(F.col("list_id").isin(probe))
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    dirs = {f.split("list_id=")[1].split("/")[0] for f in files}
    assert dirs == {str(p) for p in probe}  # only the probed directories read


def test_pq_topk_exact_rerank_scores_and_recall(spark, tmp_path):
    from healthcare_data_warehouse_spark.operators.similarity import (
        pq_build_index,
        pq_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "pq")
    pq_build_index(emb, index_dir)
    approx = pq_topk_indexed(spark, index_dir, _query_vec(emb), k=10,
                             refine=150, exclude_id=0).collect()
    assert 0 < len(approx) <= 10
    # re-ranked scores are EXACT cosines (ADC only selects candidates)
    exact_sims = _exact_sims(emb)
    for r in approx:
        assert abs(r["cosine_sim"] - exact_sims[r["vec_id"]]) < 1e-12
    # uniform-random 64-dim vectors are PQ's worst case (quantization
    # noise ~ signal); a 30% refine still recovers most of top-10
    # (measured 0.9 at this seed — 0.6 leaves nondeterminism margin)
    recall = len({r["vec_id"] for r in approx} & set(_exact_top10(emb))) / 10
    assert recall >= 0.6


def test_pq_indexed_trains_nothing_at_query(spark, tmp_path):
    from healthcare_data_warehouse_spark.operators.similarity import (
        pq_build_index,
        pq_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "pq")
    books = pq_build_index(emb, index_dir, m=8, codebook_k=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)

    # Stored codes round-trip: every vector got an m-length int code.
    stored = spark.read.parquet(str(tmp_path / "pq" / "vectors"))
    assert stored.filter(F.size("pq_code") != 8).count() == 0

    indexed = pq_topk_indexed(spark, index_dir, _query_vec(emb), k=10,
                              refine=150, exclude_id=0)

    # The query path must train NOTHING: its plan is a scan of the
    # materialized index (stored pq_code column) scored by element_at over
    # plan-literal ADC tables — the KMeans fits all happened at build time.
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "element_at" in plan and "pq_code" in plan
    # The scan reads the materialized index, not the corpus: pq_code only
    # exists in the stored index table (paths are truncated in the plan
    # string, so assert on the scanned schema instead).
    assert "pq_code:array<int>" in plan


def test_ann_pq_topk_handles_absent_query_vector(spark, tmp_path):
    # vec_id 0 deleted from the corpus: the catalog query must return an
    # empty frame, not crash on first()[0] of a missing row.
    from healthcare_data_warehouse_spark.plans.catalog import queries

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") != 0)
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = queries()["ann_pq_topk"](spark, str(tmp_path))
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "label", "cosine_sim"}


def test_ann_ivf_topk_follows_a_fixture_regenerated_in_place(spark, tmp_path):
    """The IVF index is cached per corpus CONTENT, not per path: after
    embeddings.parquet is rewritten in place (labels shifted), the query
    must answer from the new rows instead of the index built over the
    old ones."""
    from healthcare_data_warehouse_spark.plans.catalog import queries

    path = str(tmp_path / "embeddings.parquet")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.write.mode("overwrite").parquet(path)
    first = queries()["ann_ivf_topk"](spark, str(tmp_path)).collect()
    assert first and all(r["label"] < 1000 for r in first)

    emb.withColumn("label", F.col("label") + 1000).write.mode(
        "overwrite").parquet(path)
    second = queries()["ann_ivf_topk"](spark, str(tmp_path)).collect()
    assert second and all(r["label"] >= 1000 for r in second)


def test_derived_artifact_concurrent_builders_agree(tmp_path):
    """Builders racing on one cold artifact (server threads asking for
    the same index) each build under their own path and one rename
    wins: every caller gets the same complete artifact and no build
    directory is left behind."""
    import glob
    import os
    import shutil
    import sys
    import threading
    import time

    from healthcare_data_warehouse_spark.plans.catalog import _derived_artifact

    (tmp_path / "t.parquet").write_bytes(b"x")

    def build(d):
        os.makedirs(d)
        time.sleep(0.01)
        with open(os.path.join(d, "part"), "w") as fh:
            fh.write("complete")

    paths, errors = [], []

    def call():
        try:
            paths.append(_derived_artifact(str(tmp_path), "t", "stress", build))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert len(paths) == 16 and len(set(paths)) == 1
        with open(os.path.join(paths[0], "part")) as fh:
            assert fh.read() == "complete"
        assert not glob.glob(paths[0] + ".build*")
    finally:
        for path in set(paths):
            shutil.rmtree(path, ignore_errors=True)


def test_ann_defaults_resolve_from_recall_target():
    """The knobless defaults must land on the measured >=0.9-recall
    operating points (tools/ann_quality.py sweep: IVF probe 12/16 =
    0.97, PQ shortlist 80*k = 0.96) — never back on the old silent
    0.62-recall constants (probe 4 / refine 50)."""
    from healthcare_data_warehouse_spark.operators.similarity import (
        DEFAULT_TARGET_RECALL,
        resolve_n_probe,
        resolve_refine,
    )

    assert DEFAULT_TARGET_RECALL == 0.9
    assert resolve_n_probe(16) == 12          # 0.97 measured
    assert resolve_refine(10) == 800          # 0.96 measured
    # calibration is fraction/multiple-based, so it transfers
    assert resolve_n_probe(8) == 6
    assert resolve_refine(5) == 400
    # a stricter target climbs the curve; past the table -> exhaustive.
    # resolve_refine's table tops out at 0.96 measured, so 0.99 returns
    # None ("no shortlist cap": exact re-rank of ALL candidates, recall
    # 1.0 by construction) rather than silently serving 0.96.
    assert resolve_n_probe(16, target_recall=0.99) == 16
    assert resolve_refine(10, target_recall=0.99) is None
    assert resolve_refine(10, target_recall=0.96) == 800  # table max
    # a cheap target still never drops below the smallest measured point
    assert resolve_n_probe(16, target_recall=0.5) == 4
    assert resolve_refine(10, target_recall=0.5) == 100


def test_pq_unattainable_target_degrades_to_exact(spark, tmp_path):
    """target_recall above the measured 0.96 ceiling must make
    pq_topk_indexed exact — identical top-k to brute-force cosine —
    because the ADC shortlist cap is dropped (the '>= this recall'
    contract holds by construction instead of being quietly violated)."""
    from healthcare_data_warehouse_spark.operators.similarity import (
        pq_build_index,
        pq_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "pq")
    pq_build_index(emb, index_dir)
    degraded = [r["vec_id"] for r in
                pq_topk_indexed(spark, index_dir, _query_vec(emb), k=10,
                                exclude_id=0, target_recall=0.999).collect()]
    assert degraded == _exact_top10(emb)


def test_ivf_default_call_scans_resolved_probe_count(spark, tmp_path):
    """A knobless ivf_topk_indexed call must probe 12 of 16 lists (the
    resolved 0.9-target default), observable as the partition filter in
    the physical plan."""
    from healthcare_data_warehouse_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
    )
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path / "ivf")
    ivf_build_index(emb, index_dir, n_lists=16)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    df = ivf_topk_indexed(spark, index_dir, qvec, k=10, exclude_id=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[list_id#\d+ INSET ([\d, ]+)", plan)
    assert m, plan[-3000:]
    assert len(m.group(1).split(",")) == 12
