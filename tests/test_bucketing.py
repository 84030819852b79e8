"""Bucketed co-located join: correctness + the exchange-free plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.sources.bucketing import cobucketed_join, write_bucketed
from healthcare_data_warehouse_spark.sources.loaders import load_table

from conftest import SF_SMOKE


def test_cobucketed_join_has_no_exchange(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(o, "b_orders", "o_orderkey", buckets=8)
    write_bucketed(li.select("o_orderkey", "l_extendedprice", "l_quantity"),
                   "b_lineitem", "o_orderkey", buckets=8)
    try:
        joined = cobucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: the join reads bucket files directly — no shuffle
        assert "Exchange hashpartitioning" not in plan
        # and it is still correct
        expect = (
            o.join(li, "o_orderkey")
            .agg(F.count("*"), F.sum(F.col("l_quantity").cast("decimal(18,4)")))
            .collect()[0]
        )
        got = (
            joined.agg(F.count("*"), F.sum(F.col("l_quantity").cast("decimal(18,4)")))
            .collect()[0]
        )
        assert tuple(expect) == tuple(got)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_order_layout_attach_reuses_completed_files(spark):
    """A NEW session forgets table metadata but the bucket files persist;
    the layout helper must re-ATTACH completed files (CREATE TABLE ...
    CLUSTERED BY ... LOCATION) instead of re-paying the write. Simulated
    by copying a completed managed write to a fresh warehouse name and
    asking the helper for it."""
    import os
    import shutil

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _attach_or_write_bucketed,
        _warehouse_path,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    write_bucketed(li, "bkt_attach_src", "l_orderkey", buckets=4)
    wh = _warehouse_path(spark)
    src, dst = os.path.join(wh, "bkt_attach_src"), os.path.join(wh, "bkt_attach_dst")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    calls = []

    def df_fn():
        calls.append(1)
        return li

    try:
        _attach_or_write_bucketed(spark, df_fn, "bkt_attach_dst",
                                  "l_orderkey", 4)
        assert spark.catalog.tableExists("bkt_attach_dst")
        # attached, not rewritten: df_fn consulted only for the schema,
        # and the attached table carries the bucket spec (exchange-free
        # self-join on the bucket key)
        j = cobucketed_join(spark, "bkt_attach_dst", "bkt_attach_src",
                            "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_attach_src")
        spark.sql("DROP TABLE IF EXISTS bkt_attach_dst")
        shutil.rmtree(dst, ignore_errors=True)


def test_attach_rejects_split_bucket_layout(spark):
    """A bucket spanning multiple files is the SPARK-28632 wrong-results
    scenario under the session's outputOrdering trust — the attach path
    must refuse it (and the helper must then rebuild a valid layout
    rather than trusting the bad one)."""
    import os
    import shutil

    import pytest

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _attach_bucketed,
        _attach_or_write_bucketed,
        _warehouse_path,
        bucket_file_counts,
        validate_one_file_per_bucket,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    write_bucketed(li, "bkt_split_src", "l_orderkey", buckets=4)
    wh = _warehouse_path(spark)
    src = os.path.join(wh, "bkt_split_src")
    bad = os.path.join(wh, "bkt_split_bad")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(src, bad)
    # split bucket 0 across two files: duplicate its part file under a
    # second task id (what maxRecordsPerFile / a parallel writer produces)
    parts = [f for f in os.listdir(bad) if f.startswith("part-") and "_00000" in f]
    assert parts, os.listdir(bad)
    shutil.copy(os.path.join(bad, parts[0]),
                os.path.join(bad, parts[0].replace("part-00000", "part-00099")))
    counts = bucket_file_counts(bad)
    assert counts[0] == 2
    with pytest.raises(RuntimeError, match="SPARK-28632"):
        validate_one_file_per_bucket(bad)
    with pytest.raises(RuntimeError):
        _attach_bucketed(spark, lambda: li, "bkt_split_bad", "l_orderkey", 4, bad)

    # the orchestrating helper, given the invalid layout, rebuilds a
    # valid one instead of attaching the bad files
    try:
        _attach_or_write_bucketed(spark, lambda: li, "bkt_split_bad",
                                  "l_orderkey", 4)
        assert spark.catalog.tableExists("bkt_split_bad")
        counts = bucket_file_counts(bad)
        assert counts and all(c == 1 for c in counts.values())
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_split_src")
        spark.sql("DROP TABLE IF EXISTS bkt_split_bad")
        shutil.rmtree(bad, ignore_errors=True)


def test_attach_rejects_bucket_count_mismatch(spark):
    """A layout written with N buckets must never attach under a
    different declared count: membership is hash(key) % N, so a
    mismatched attach plans an exchange-free SortMergeJoin over
    misplaced rows — silent wrong results. The write-time spec sidecar
    is the authority; a layout with no sidecar is refused too."""
    import os
    import shutil

    import pytest

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _attach_bucketed,
        _SPEC_FILE,
        _warehouse_path,
        validate_one_file_per_bucket,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    write_bucketed(li, "bkt_spec_src", "l_orderkey", buckets=4)
    wh = _warehouse_path(spark)
    loc = os.path.join(wh, "bkt_spec_src")
    try:
        # correct declaration passes
        validate_one_file_per_bucket(loc, buckets=4, key="l_orderkey")
        # wrong count / wrong key refused
        with pytest.raises(RuntimeError, match="bucket spec"):
            validate_one_file_per_bucket(loc, buckets=8, key="l_orderkey")
        with pytest.raises(RuntimeError, match="bucket spec"):
            validate_one_file_per_bucket(loc, buckets=4, key="l_partkey")
        with pytest.raises(RuntimeError):
            _attach_bucketed(spark, lambda: li, "bkt_spec_bad",
                             "l_orderkey", 8, loc)
        assert not spark.catalog.tableExists("bkt_spec_bad")
        # observed-id sanity: ids >= declared count refused even if a
        # forged sidecar claims otherwise
        with pytest.raises(RuntimeError, match="observed bucket id"):
            validate_one_file_per_bucket(loc, buckets=2)
        # no sidecar (foreign/older writer) -> refused
        os.remove(os.path.join(loc, _SPEC_FILE))
        with pytest.raises(RuntimeError, match=_SPEC_FILE):
            validate_one_file_per_bucket(loc, buckets=4, key="l_orderkey")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_spec_src")
        spark.sql("DROP TABLE IF EXISTS bkt_spec_bad")
        shutil.rmtree(loc, ignore_errors=True)


def test_attach_tolerates_concurrent_peer_attach(spark):
    """TOCTOU between tableExists and CREATE: if a peer attached the
    (validated) table first, the CREATE's TableAlreadyExists is success,
    not failure — the files are the same validated layout."""
    import os
    import shutil

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _attach_bucketed,
        _warehouse_path,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    write_bucketed(li, "bkt_race_t", "l_orderkey", buckets=4)
    wh = _warehouse_path(spark)
    loc = os.path.join(wh, "bkt_race_t")
    try:
        assert spark.catalog.tableExists("bkt_race_t")
        # attach over an already-attached table: no raise
        _attach_bucketed(spark, lambda: li, "bkt_race_t", "l_orderkey",
                         4, loc)
        assert spark.catalog.tableExists("bkt_race_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_race_t")
        shutil.rmtree(loc, ignore_errors=True)


def test_layout_tag_changes_when_source_regenerated(tmp_path, spark):
    """In-place fixture regeneration must invalidate the materialized
    order layout: the tag is content-addressed on source file
    sizes+mtimes, so the same sf_dir path yields a DIFFERENT table name
    after a rewrite and the stale layout is never attached."""
    import os
    import shutil

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _order_layout_specs,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("orders", "lineitem"):
        src = os.path.join(SF_SMOKE, f"{t}.parquet")
        dst = os.path.join(sf, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)

    tag_before = _order_layout_specs(spark, sf)[0][0]
    # "regenerate" the fixture: rewrite lineitem in place (new mtime/size)
    lp = os.path.join(sf, "lineitem.parquet")
    if os.path.isdir(lp):
        f = next(p for p in os.listdir(lp) if not p.startswith(("_", ".")))
        target = os.path.join(lp, f)
    else:
        target = lp
    os.utime(target, (os.path.getatime(target),
                      os.path.getmtime(target) + 10))
    tag_after = _order_layout_specs(spark, sf)[0][0]
    assert tag_before != tag_after


def test_join_3way_matches_oracle_on_hot_order_key(tmp_path, spark):
    """A hot join key (90% of lineitem on one order) changes the work
    per task, never the answer: join_3way on that fixture matches the
    DuckDB oracle."""
    import os
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from healthcare_data_warehouse_spark.plans import catalog

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("orders", "customer"):
        src = os.path.join(SF_SMOKE, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(
            src, os.path.join(sf, f"{t}.parquet"))
    li = pq.read_table(os.path.join(SF_SMOKE, "lineitem.parquet"))
    keys = li.column("l_orderkey").to_numpy().copy()
    keys[: int(len(keys) * 0.9)] = keys[0]  # 90% hot order
    kt = li.schema.field("l_orderkey").type
    li = li.set_column(li.schema.get_field_index("l_orderkey"),
                       "l_orderkey", pa.array(keys, type=kt))
    pq.write_table(li, os.path.join(sf, "lineitem.parquet"))

    got = catalog.queries()["join_3way"](spark, sf).toPandas()
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, t + '.parquet')}')")
    want = con.execute(catalog.oracle_sql()["join_3way"]).fetchdf()
    con.close()
    got = got.sort_values("c_mktsegment").reset_index(drop=True)
    want = want.sort_values("c_mktsegment").reset_index(drop=True)
    assert got["c_mktsegment"].tolist() == want["c_mktsegment"].tolist()
    assert got["order_line_count"].tolist() == want["order_line_count"].tolist()
    assert got["revenue"].tolist() == want["revenue"].tolist()


def test_build_claim_rename_leaves_no_temp_dirs(spark):
    """Fresh build goes through the pid-tagged claim dir + atomic rename;
    afterwards the canonical location exists, is valid, and no __build_
    leftovers remain (the cross-process clobber fix: a second writer's
    rename loses and cleans up instead of rmtree-ing the winner)."""
    import os
    import shutil

    from healthcare_data_warehouse_spark.sources.bucketing import (
        _attach_or_write_bucketed,
        _warehouse_path,
        bucket_file_counts,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    wh = _warehouse_path(spark)
    loc = os.path.join(wh, "bkt_claim_t")
    spark.sql("DROP TABLE IF EXISTS bkt_claim_t")
    shutil.rmtree(loc, ignore_errors=True)
    try:
        _attach_or_write_bucketed(spark, lambda: li, "bkt_claim_t",
                                  "l_orderkey", 4)
        assert spark.catalog.tableExists("bkt_claim_t")
        assert os.path.exists(os.path.join(loc, "_SUCCESS"))
        counts = bucket_file_counts(loc)
        assert counts and all(c == 1 for c in counts.values())
        leftovers = [d for d in os.listdir(wh) if "__build_" in d]
        assert leftovers == []
        assert spark.table("bkt_claim_t").count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_claim_t")
        shutil.rmtree(loc, ignore_errors=True)
