"""Tests for sinks (upsert, atomic overwrite) and audited reads."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import threading

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.config import SCRATCH_DIR
from healthcare_data_warehouse_spark.sources.audit import (
    audit_log_path,
    audited_read,
    log_audit,
    read_audit_log,
)
from healthcare_data_warehouse_spark.sources.sinks import upsert, upsert_to_path

from conftest import SF_SMOKE


def test_upsert_semantics(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    updates = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    got = {r["k"]: r["v"] for r in upsert(target, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_upsert_to_path_idempotent(spark):
    path = os.path.join(SCRATCH_DIR, "upsert_test")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upsert_to_path(spark, path, base, ["k"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    upsert_to_path(spark, path, upd, ["k"])
    # rerun the same update — idempotent (SURVEY §7.4 item 5)
    result = upsert_to_path(spark, path, upd, ["k"])
    got = {r["k"]: r["v"] for r in result.collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    shutil.rmtree(path, ignore_errors=True)


def test_audited_read_logs_event(spark):
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    df = audited_read(spark, SF_SMOKE, "nation", user_name="tester")
    assert df.count() > 0
    log = read_audit_log(spark)
    rows = log.filter(
        (F.col("table_name") == "nation") & (F.col("user_name") == "tester")
    ).collect()
    assert len(rows) == 1 and rows[0]["action_type"] == "READ"
    # second read appends, never overwrites
    audited_read(spark, SF_SMOKE, "nation", user_name="tester")
    assert read_audit_log(spark).count() == 2
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_audit_log_concurrent_appends_one_file(spark):
    # Eight writer threads share the log: no event is lost or torn, and
    # the directory stays at one file however many events land in it.
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    errors = []

    def writer(t):
        try:
            for i in range(125):
                log_audit(spark, "READ", f"t{t}", user_name="stress", details=f"i={i}")
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(th.is_alive() for th in threads)

    log = read_audit_log(spark)
    assert log.count() == 1000
    assert log.select("audit_id").distinct().count() == 1000
    assert {r["table_name"]: r["count"] for r in log.groupBy("table_name").count().collect()} \
        == {f"t{t}": 125 for t in range(8)}
    assert len(os.listdir(audit_log_path())) == 1
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_audit_timestamp_roundtrip_is_utc(spark):
    # The log stores an instant; read back under the UTC session zone it
    # is the naive-UTC wall time at which the event was written.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    log_audit(spark, "LOAD", "ts_probe")
    after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    got = read_audit_log(spark).select(
        F.date_format("action_timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")
    ).collect()
    assert len(got) == 1
    ts = dt.datetime.fromisoformat(got[0]["ts"])
    assert before - dt.timedelta(seconds=1) <= ts <= after + dt.timedelta(seconds=1)
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_multimodal_decode_stub_raises():
    import pytest

    from healthcare_data_warehouse_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG")


def test_multimodal_frames(spark):
    from healthcare_data_warehouse_spark.operators.multimodal import (
        attach_binary,
        sample_frames,
    )
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    d = attach_binary(load_table(spark, SF_SMOKE, "documents").limit(20))
    frames = sample_frames(d, every_n_bytes=32)
    assert frames.count() > 20  # explode-shaped: more frames than docs
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(rr["count"] >= 1 for rr in per_doc)
    # frame_idx dense from 0 per doc
    first = frames.filter(F.col("doc_id") == per_doc[0]["doc_id"]).orderBy("frame_idx").collect()
    assert [x["frame_idx"] for x in first] == list(range(len(first)))


def test_jsonl_roundtrip_preserves_nulls_and_newlines(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from healthcare_data_warehouse_spark.sources.loaders import jsonl_roundtrip

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.createDataFrame(
        [Row(id=1, text="line1\nline2"), Row(id=2, text=None)], schema)
    back = jsonl_roundtrip(spark, df, str(tmp_path / "docs"))
    rows = {r["id"]: r["text"] for r in back.collect()}
    assert rows == {1: "line1\nline2", 2: None}
    assert back.schema == schema


def test_jsonl_failfast_on_corrupt_line(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from healthcare_data_warehouse_spark.sources.loaders import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1}\n{not json at all\n')
    schema = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(Exception):  # FAILFAST surfaces the corrupt line
        read_jsonl(spark, str(tmp_path), schema).collect()


def test_evolve_schema_conforms_batches(spark):
    from pyspark.sql import types as T

    from healthcare_data_warehouse_spark.sources.sinks import evolve_schema

    target = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("flag", T.StringType()),
    ])
    old_batch = spark.createDataFrame(
        [(1, 5, "extra")], "id int, cost int, legacy string")  # narrow types + legacy col
    out = evolve_schema(old_batch, target)
    assert out.schema == target
    row = out.first()
    assert row["id"] == 1 and row["cost"] == 5.0 and row["flag"] is None
    assert "legacy" not in out.columns


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC write→read preserves schema + values, and the ORC scan pushes
    filters down like parquet."""
    from healthcare_data_warehouse_spark.sources.loaders import (
        load_table,
        orc_roundtrip,
    )

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice")
    back = orc_roundtrip(spark, o, str(tmp_path / "orc"))
    assert back.schema == o.schema
    assert back.count() == o.count()

    filtered = back.filter(back.o_totalprice > 100000)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_merge_into_full_decision_table(spark):
    """Every MERGE branch in one batch: delete-matched, update-matched
    (conditional), keep-matched (condition false), insert source-only,
    keep target-only."""
    from healthcare_data_warehouse_spark.sources.sinks import merge_into

    t = spark.createDataFrame(
        [(1, "keep-me", 10.0), (2, "update-me", 20.0),
         (3, "delete-me", 30.0), (4, "no-clause-hit", 40.0)],
        "k int, name string, v double")
    s = spark.createDataFrame(
        [(2, "updated", 99.0),        # update_cond true (99 > 20)
         (3, "whatever", -1.0),       # delete_cond true (negative)
         (4, "too-small", 5.0),       # neither: target row survives
         (5, "inserted", 50.0)],      # source-only: insert
        "k int, name string, v double")
    out = merge_into(
        t, s, ["k"],
        delete_cond=F.col("s.v") < 0,
        update_cond=F.col("s.v") > F.col("t.v"),
    )
    got = {r["k"]: (r["name"], r["v"]) for r in out.collect()}
    assert got == {
        1: ("keep-me", 10.0),
        2: ("updated", 99.0),
        4: ("no-clause-hit", 40.0),
        5: ("inserted", 50.0),
    }


def test_merge_into_unconditional_update_is_upsert(spark):
    from healthcare_data_warehouse_spark.sources.sinks import merge_into, upsert

    t = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    s = spark.createDataFrame([(2, 9.0), (3, 3.0)], "k int, v double")
    a = {(r["k"], r["v"]) for r in merge_into(t, s, ["k"]).collect()}
    b = {(r["k"], r["v"]) for r in upsert(t, s, ["k"]).collect()}
    assert a == b == {(1, 1.0), (2, 9.0), (3, 3.0)}


def test_schema_evolution_scan_types_and_nulls(spark):
    from healthcare_data_warehouse_spark.plans import catalog

    df = catalog.queries()["scan_schema_evolution"](spark, SF_SMOKE)
    assert dict(df.dtypes)["c_acctbal"] == "double"
    nulls = df.filter(F.col("c_acctbal").isNull()).count()
    evens = df.filter(F.col("c_custkey") % 2 == 0).count()
    assert nulls == evens and evens > 0


def test_load_table_relation_cache_hit_and_invalidation(spark, tmp_path):
    """load_table caches the resolved relation per session+path (metadata
    only — re-deriving schema/file lists per call is pure driver
    overhead), and a rewrite of the table files must invalidate it."""
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "orders.parquet")
    src = load_table(spark, SF_SMOKE, "orders").limit(10)
    src.write.mode("overwrite").parquet(path)

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    # same files -> one cached resolved relation (the shared underlying
    # plan), wrapped in a FRESH alias per call (r11: per-call handles)
    assert path in spark._hdw_table_cache
    underlying = spark._hdw_table_cache[path][1]
    assert a is not b  # fresh per-call handles over...
    assert spark._hdw_table_cache[path][1] is underlying  # ...one relation
    assert a.count() == 10 and b.count() == 10

    # rewrite -> stamp changes -> fresh relation that sees the new rows
    src2 = load_table(spark, SF_SMOKE, "orders").limit(3)
    src2.write.mode("overwrite").parquet(path)
    stamped = spark._hdw_table_cache[path][0]
    c = load_table(spark, sf_dir, "orders")
    assert spark._hdw_table_cache[path][0] != stamped
    assert c.count() == 3


def test_load_table_twice_is_attribute_joinable(spark):
    """r10 advice (medium): two loads of the same table must be
    attribute-joinable — a['k'] == b['k'] has to disambiguate as a
    self-join instead of raising AMBIGUOUS_SELF_JOIN or silently
    becoming a trivially-true condition on one shared object."""
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"])
    n = a.count()
    # 25 nations over 5 regions, 5 each -> 5 * 5^2 = 125 pairs; the
    # trivially-true-condition failure mode would return n^2 = 625.
    assert joined.count() == 125
    assert n == 25


def test_table_stamp_recurses_into_partition_dirs(tmp_path):
    """r10 advice (low): a partitioned table whose leaf files are
    rewritten in place (same names, same subdir entry set) must change
    the stamp."""
    import time as _time

    from healthcare_data_warehouse_spark.sources.loaders import _table_stamp

    tbl = tmp_path / "t.parquet"
    part = tbl / "dt=2031-01-01"
    part.mkdir(parents=True)
    leaf = part / "part-0.parquet"
    leaf.write_bytes(b"one")
    s1 = _table_stamp(str(tbl))
    assert s1 is not None
    _time.sleep(0.002)
    leaf.write_bytes(b"two+")  # same name, new size/mtime
    s2 = _table_stamp(str(tbl))
    assert s2 is not None and s2 != s1

    # deeper than the fingerprint depth -> refuse to stamp (no caching)
    deep = part / "x" / "y"
    deep.mkdir(parents=True)
    (deep / "f").write_bytes(b"z")
    assert _table_stamp(str(tbl)) is None
