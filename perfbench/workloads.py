"""Pinned workload definitions.

These live here, not in ``bench.py`` or the query registry, so an edit
there cannot silently change what the benchmark measures. A name that
the registry no longer has is counted as a failed operation.
"""

from __future__ import annotations

# Scale of the generated fixture each workload reads (fixture.py).
SCALE = {"analytics_sf0.1": 0.1, "serve_mixed": 0.1, "pipeline_sf0.01": 0.01}

# Four of the 42 bench.py headline queries, one closed-loop client. A run
# pays a cold check pass per query and the whole benchmark must run in
# under an hour, so these are the ones the open ROADMAP directions act on
# most directly: the scan drift canary, the bucketed/staged join
# cutover, a builder that runs eager driver jobs and persists, and a
# spread() consumer that pins a localCheckpoint.
ANALYTICS_QUERIES = [
    "agg_by_agegroup",           # scan + aggregate drift canary
    "join_3way",                 # bucketed auto-route / staged cutover
    "window_rownumber_keys",     # eager build jobs, add_dense_key persist
    "vocab_bpe_segment",         # spread(): BPE segment, localCheckpoint
]

# serve_mixed: closed loop, each client waits for its reply.
SERVE_CLIENTS = 4
# Requests each client sends per second of --seconds, about what one
# client completes per second on a 4-core host. The request count is set
# by --seconds, not by the host's speed: a fast run that sent more
# requests drew more repeated keys and hit the cache more, so throughput
# grew faster than the host's speed, which widened the run-to-run spread.
SERVE_REQUESTS_PER_CLIENT_S = 0.6
# Each client deals its requests from a deck with this many of each kind,
# reshuffled by the seed every round, so every run has the same mix.
SERVE_DECK = {"patient": 4, "route": 3, "topk": 3}
# GET /patients/{id}/visits ids: Zipf over every customer key with orders
ZIPF_EXPONENT = 1.1
# the five fixed dashboard routes, default parameters; setup primes them
SERVE_ROUTES = {
    "/analytics/kpis": "kpi_block",
    "/analytics/age-groups": "agg_by_agegroup",
    "/analytics/diagnoses": "topk_diagnoses",
    "/analytics/providers": "provider_utilization",
    "/predictions/anomalies": "anomaly_listing",
}
# /query/topk_highcost grid: 60 entries, inside the 256-entry cache but
# more than a run draws, so top-k requests mostly miss
TOPK_THRESHOLDS = tuple(float(t) for t in range(50000, 500000, 50000)) + (490000.0,)
TOPK_KS = (5, 10, 20, 30, 40, 50)
