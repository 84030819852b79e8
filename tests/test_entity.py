"""Entity resolution: blocking, edit-distance match, transitive closure."""

import pytest
from pyspark.sql import functions as F

from healthcare_data_warehouse_spark.operators.entity import candidate_pairs
from healthcare_data_warehouse_spark.operators.graph import connected_components


@pytest.fixture(scope="module")
def records(spark):
    # Three true entities: {1,2,3} chained variants of "jon smith"
    # (1~2 and 2~3 within 1 edit, 1~3 needs 2 — transitivity must close
    # it), {4} distinct, {5,6} variants in a different block.
    return spark.createDataFrame(
        [
            (1, "jon smith"),
            (2, "jon smyth"),
            (3, "john smyth"),
            (4, "jane smith"),
            (5, "ann lee"),
            (6, "anne lee"),
        ],
        "rec_id long, name string",
    )


def _block():
    return F.substring("name", 1, 1)


def test_candidate_pairs_blocked_and_thresholded(records):
    pairs = {(r["id_a"], r["id_b"]): r["dist"]
             for r in candidate_pairs(records, "rec_id", "name", _block()).collect()}
    assert pairs[(1, 2)] == 1 and pairs[(2, 3)] == 1 and pairs[(5, 6)] == 1
    assert (1, 3) not in pairs          # 2 edits > threshold
    assert (1, 4) not in pairs          # same block, but 3 edits > threshold
    assert all(a < b for a, b in pairs)  # each unordered pair once


def test_resolution_closes_transitively(records):
    pairs = candidate_pairs(records, "rec_id", "name", _block())
    comp = connected_components(pairs, "id_a", "id_b")
    resolved = (
        records.join(comp.withColumnRenamed("node", "rec_id"), "rec_id", "left")
        .withColumn("entity_id", F.coalesce("component", "rec_id")))
    out = {r["rec_id"]: r["entity_id"] for r in resolved.collect()}
    assert out[1] == out[2] == out[3] == 1   # chain closed to min id
    assert out[4] == 4                        # singleton keeps own id
    assert out[5] == out[6] == 5
    assert len(out) == 6                      # row-preserving


def test_blocking_prevents_cross_block_match(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "baa")], "rec_id long, name string")  # 1 edit apart
    pairs = candidate_pairs(df, "rec_id", "name", _block()).collect()
    assert pairs == []  # different first letter → never compared
