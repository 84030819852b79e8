"""Deterministic engine constants.

The reference derives "now" at runtime (CURRENT_DATE in stg_visits.sql:23,
datetime.now() in scripts/etl.py:41) which makes results drift day to day.
For testability every time-dependent expression in this engine is
parameterized by AS_OF_DATE (SURVEY.md §7.4 item 6).
"""

from __future__ import annotations

import os

# Fixed "today" for age calculations and temporal-sanity filters.
AS_OF_DATE = "2026-08-13"

# Differential privacy defaults (reference: scripts/etl.py:65-72,
# dbt fact_visits.sql:40-44 — Laplace, epsilon=0.1, sensitivity=1.0, clamp>=0).
DP_EPSILON = 0.1
DP_SENSITIVITY = 1.0

# Privacy-audit thresholds (reference: privacy_engine.py:27-39).
K_ANONYMITY = 5
L_DIVERSITY = 3
T_CLOSENESS = 0.2
PRIVACY_BUDGET_MAX_EPSILON = 1.0

# Fact-input size above which wide analytic joins switch from the
# join-then-aggregate plan to the staged aggregate-below-join plan
# (pre-reduce the fact on the join key before shuffling it). Below the
# cutover the direct plan wins: the dims broadcast and the fact never
# shuffles at all, so adding a pre-aggregation exchange would be pure
# overhead. Above it the dims stop fitting broadcast, every joined byte
# rides a shuffle, and shrinking the fact FIRST is the dominant term.
STAGED_JOIN_CUTOVER_BYTES = 512 << 20

# spread()'s data-derived width floor (r11): a CPU-spreading exchange
# gets min(defaultParallelism, input_bytes // this) partitions, so a
# byte-tiny input stops paying one task per core in fixed per-task
# overhead (the 8c-faster-than-32c inversion the r10 driver scaling
# block measured), while anything >= cores x quantum keeps the full
# core fan-out. 64 KB/task: the CPU-amplifying stages this
# feeds (tokenize/shingle/decode, ~50x fan-out) turn 64 KB of input
# into a few ms of real work — comparable to the task's fixed cost, the
# break-even.
SPREAD_MIN_TASK_BYTES = 64 << 10

# Materialize-for-reuse cutover: when a corpus-derived intermediate
# feeds multiple consumers with no exchange for ReuseExchange to dedupe
# (partition-local aggregation after spread()), localCheckpoint it only
# above this much estimated INPUT (scan bytes, Catalyst stats). Below,
# recomputing the chain per consumer is cheaper than the
# materialization round-trip — measured both ways on quality_bigram_lm
# (sf1: checkpoint +5 s; sf10: checkpoint −2.5 s). Order-of-magnitude
# gate, same discipline as STAGED_JOIN_CUTOVER_BYTES.
CHECKPOINT_REUSE_CUTOVER_BYTES = 32 << 20

# Driver test data (TESTDATA.md).
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Scratch space for sinks exercised by tests (CSV roundtrip, audit log,
# upsert rewrites). Kept inside the repo and gitignored. Overridable via
# SPARK_GRAFT_SCRATCH so concurrent processes (pytest vs a parallel
# oracle/bench run) don't share mutable state like the audit log — any
# number of processes may append to its one JSON-lines file, but tests
# that COUNT events need their own log.
SCRATCH_DIR = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"),
)
