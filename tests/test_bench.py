"""bench.py: ``SPARK_GRAFT_BENCH_ONLY`` takes any catalog query, and the
artifact's ``layers`` field splits a query's best run into its plan
build and the Spark jobs it submitted."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__
import bench
from conftest import REPO, SF_SMOKE


def test_any_registry_query_is_accepted():
    registry = __spark_entry__.queries()
    assert "gini_by_segment" in registry
    assert "gini_by_segment" not in bench.HEADLINE
    assert bench.resolve_queries(" gini_by_segment,join_3way ", registry) \
        == ["gini_by_segment", "join_3way"]
    assert bench.resolve_queries("", registry) == bench.HEADLINE


def test_unknown_query_is_rejected():
    with pytest.raises(SystemExit) as err:
        bench.resolve_queries("join_3way,no_such_query",
                              __spark_entry__.queries())
    assert err.value.code != 0
    assert "no_such_query" in str(err.value.code)


def test_bench_reports_layers_for_a_non_headline_query():
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE,
           "SPARK_GRAFT_BENCH_ONLY": "gini_by_segment"}
    res = subprocess.run([sys.executable, "bench.py"], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    lines = res.stdout.strip().splitlines()
    assert len(lines) == 1
    doc = json.loads(lines[0])
    wall = doc["queries"]["gini_by_segment"]
    layer = doc["layers"]["gini_by_segment"]
    assert 0 <= layer["build_s"] <= wall
    assert layer["jobs"] >= 1
    assert layer["stages"] >= 1 and layer["tasks"] >= 1
