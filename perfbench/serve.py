"""``serve_mixed``: the HTTP API on localhost under a dashboard-like mix.

One ``ApiServer`` over ``QueryService`` serves; ``SERVE_CLIENTS`` client
threads run a closed loop, each sending its next request only after the
previous reply arrived, ``SERVE_REQUESTS_PER_CLIENT_S`` requests per
second of ``--seconds`` each. The mix (workloads.py) is drawn
from the seed: patient visit lookups with Zipf-distributed ids, the five
dashboard routes, and a top-k parameter grid that fits the result cache.

Setup requests each dashboard route once (``_prime``), as a dashboard
that has been up for a while would have: their first miss (including
``anomaly_listing``'s upsert) lands in setup, and in the timed region
they hit the cache.
Patient lookups mostly miss; top-k requests miss until their grid entry
has been filled.
Every response is checked after the region: status 200, within the row
cap, dashboard routes equal to their DuckDB oracle, and parameterized
routes holding their invariants.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import os
import random
import threading
import time
import urllib.parse
from typing import Any

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import spans
from perfbench.harness import Bench, Outcome, oracle_check, percentile, quiesce
from perfbench.layers import per_layer, storage_extra, storage_mark
from perfbench.workloads import (SERVE_CLIENTS, SERVE_DECK,
                                 SERVE_REQUESTS_PER_CLIENT_S, SERVE_ROUTES,
                                 TOPK_KS, TOPK_THRESHOLDS, ZIPF_EXPONENT)

PARENT_HEADER = "X-Perfbench-Parent"


class Client:
    def __init__(self, port: int, token: str | None = None) -> None:
        self.port = port
        self.token = token

    def call(self, method: str, path: str, body: bytes | None = None,
             headers: dict[str, str] | None = None) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            hdrs = dict(headers or {})
            if self.token:
                hdrs["Authorization"] = f"Bearer {self.token}"
            conn.request(method, path, body=body, headers=hdrs)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def get(self, path: str, headers: dict[str, str] | None = None) -> tuple[int, bytes, int]:
        """GET ``path``, sent once more if the server drops the connection
        (its handler raised), as HTTP clients do for an idempotent request.
        Returns status, body and the number of resends; status 0 when the
        second attempt was dropped too."""
        for resends in range(2):
            try:
                return (*self.call("GET", path, headers=headers), resends)
            except (OSError, http.client.HTTPException) as exc:
                err = exc
        return 0, repr(err).encode(), resends


class Mix:
    """The request stream of one client.

    The stream's shape (the order of request kinds, the Zipf rank of each
    patient lookup, which grid slot each top-k request takes) is pinned,
    and each client draws from its own slice of the keys and of the grid,
    so every run has the same pattern of cache hits and misses whatever
    order the clients' requests interleave in. The seed decides the
    identities behind it: which customer key has which rank and which
    (threshold, k) pair fills which grid slot."""

    def __init__(self, client: int, keys: list[int], grid: list[tuple[float, int]]) -> None:
        self.shape = random.Random(f"serve_mixed:{client}")
        self.keys = keys
        self.grid = grid
        weights = [1.0 / (r + 1) ** ZIPF_EXPONENT for r in range(len(keys))]
        self.cum = list(itertools.accumulate(weights))
        self.routes = sorted(SERVE_ROUTES)
        self.deck: list[str] = []

    def next(self) -> tuple[str, str]:
        r = self.shape
        if not self.deck:
            self.deck = [k for k, n in SERVE_DECK.items() for _ in range(n)]
            r.shuffle(self.deck)
        kind = self.deck.pop()
        if kind == "patient":
            key = self.keys[bisect.bisect(self.cum, r.random() * self.cum[-1])]
            return kind, f"/patients/{key}/visits"
        if kind == "route":
            return kind, r.choice(self.routes)
        thr, k = r.choice(self.grid)
        return kind, f"/query/topk_highcost?cost_threshold={thr}&k={k}"


def _patch(b: Bench) -> None:
    """Traced runs only: spans around each serving layer's entry point."""
    from healthcare_data_warehouse_spark.plans import catalog, http_api, serving

    tr = b.tracer
    tr.patch(http_api.ApiServer, "run_cached", "http.run_cached")
    tr.patch(serving.QueryService, "run", "serving.run")
    tr.patch(serving, "log_audit", "audit.log_audit")
    registry = catalog.queries

    def queries() -> dict:
        return {n: tr.wrap(fn, "catalog.build") for n, fn in registry().items()}

    catalog.queries = queries
    do_get = http_api._Handler.do_GET

    def traced_get(handler) -> None:
        hdr = handler.headers.get(PARENT_HEADER)
        parent = tuple(map(int, hdr.split(":"))) if hdr else None
        with tr.span("http.handle", parent=parent):
            do_get(handler)

    http_api._Handler.do_GET = traced_get


def _clients(b: Bench, client: Client, keys: list[int],
             grid: list[tuple[float, int]], requests: int,
             out: list[dict[str, Any]]) -> None:
    lock = threading.Lock()
    errors: list[BaseException] = []

    def loop(idx: int) -> None:
        mix = Mix(idx, keys[idx::SERVE_CLIENTS], grid[idx::SERVE_CLIENTS])
        mine = []
        try:
            with b.tracer.span("serve.client", tag_jobs=False):
                for _ in range(requests):
                    kind, path = mix.next()
                    t0 = time.perf_counter()
                    with b.tracer.span("http.request", tag_jobs=False) as sp:
                        hdrs = ({PARENT_HEADER: f"{sp['trace']}:{sp['id']}"}
                                if sp is not None else None)
                        status, body, resends = client.get(path, hdrs)
                    mine.append({"kind": kind, "path": path, "status": status,
                                 "latency_s": time.perf_counter() - t0,
                                 "body": body, "span": sp and sp["id"],
                                 "resends": resends})
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
            errors.append(exc)
        with lock:
            out.extend(mine)

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _prime(client: Client) -> int:
    """Fill the dashboard routes' cache entries; return the resends.
    anomaly_listing goes alone: two concurrent upserts to its store would
    race."""
    solo = "/predictions/anomalies"
    status: dict[str, int] = {}
    resends: dict[str, int] = {}

    def get(path: str) -> None:
        status[path], _body, resends[path] = client.get(path)

    threads = [threading.Thread(target=get, args=(p,))
               for p in sorted(SERVE_ROUTES) if p != solo]
    for t in threads:
        t.start()
    get(solo)
    for t in threads:
        t.join()
    if set(status.values()) != {200}:
        raise RuntimeError(f"priming the dashboard routes failed: {status}")
    return sum(resends.values())


def _health(client: Client) -> tuple[int, int]:
    status, body = client.call("GET", "/health")
    cache = json.loads(body)["cache"]
    return cache["hits"], cache["misses"]


def _canon(rows: list[dict]) -> list[str]:
    from healthcare_data_warehouse_spark.plans.http_api import _json_default

    return sorted(json.dumps(r, sort_keys=True, default=_json_default) for r in rows)


class Checker:
    """Expected outputs, computed from the fixture outside the timed
    region: DuckDB oracles for the dashboard routes, per-key order counts
    for patient lookups, row counts above each top-k threshold."""

    def __init__(self, root: str, sf_dir: str) -> None:
        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = oracle_check(root).duck_connection(sf_dir)
        try:
            self.routes = {
                path: _canon(con.execute(sqls[name]).arrow().to_pylist())
                for path, name in SERVE_ROUTES.items()}
        finally:
            con.close()
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                               columns=["o_custkey", "o_totalprice"])
        counts = pc.value_counts(orders["o_custkey"]).to_pylist()
        self.orders_per_key = {c["values"]: c["counts"] for c in counts}
        prices = orders["o_totalprice"]
        self.above = {t: pc.sum(pc.greater(prices, t)).as_py() for t in TOPK_THRESHOLDS}

    def check(self, rec: dict[str, Any], max_rows: int) -> str | None:
        if rec["status"] != 200:
            return f"{rec['path']}: HTTP {rec['status']}"
        rows = json.loads(rec["body"])
        if len(rows) > max_rows:
            return f"{rec['path']}: {len(rows)} rows over the cap"
        path, _, query = rec["path"].partition("?")
        if rec["kind"] == "route":
            return None if _canon(rows) == self.routes[path] else f"{path}: differs from oracle"
        if rec["kind"] == "patient":
            key = int(path.split("/")[2])
            name = f"Customer#{key:09d}"
            if len(rows) != self.orders_per_key[key] or any(r["c_name"] != name for r in rows):
                return f"{path}: rows do not match key {key}"
            return None
        params = dict(urllib.parse.parse_qsl(query))
        thr, k = float(params["cost_threshold"]), int(params["k"])
        prices = [r["o_totalprice"] for r in rows]
        if (len(rows) != min(k, self.above[thr]) or any(p <= thr for p in prices)
                or prices != sorted(prices, reverse=True)):
            return f"{rec['path']}: top-k invariant broken"
        return None


def run(b: Bench, root: str) -> Outcome:
    from healthcare_data_warehouse_spark.plans.http_api import ApiServer
    from healthcare_data_warehouse_spark.plans.serving import QueryService

    out = Outcome()
    checker = Checker(root, b.sf_dir)
    rng = random.Random(b.seed)
    keys = sorted(checker.orders_per_key)
    rng.shuffle(keys)  # which keys are hot
    grid = [(t, k) for t in TOPK_THRESHOLDS for k in TOPK_KS]
    rng.shuffle(grid)

    t_warm = time.perf_counter()
    if b.traced:
        _patch(b)
    api = ApiServer(QueryService(b.spark, b.sf_dir))
    port = api.serve()
    try:
        anon = Client(port)
        status, body = anon.call("POST", "/auth/token",
                                 json.dumps({"username": "admin", "password": "admin"}).encode(),
                                 {"Content-Type": "application/json"})
        if status != 200:
            raise RuntimeError(f"auth failed: HTTP {status}")
        client = Client(port, json.loads(body)["access_token"])
        out.details["prime_resends"] = _prime(client)
        b.setup["warm_s"] = time.perf_counter() - t_warm
        b.tracer.spans.clear()

        quiesce(b.spark)
        mark, before = spans.job_max_id(b.spark), storage_mark(b)
        hits0, misses0 = _health(client)
        records: list[dict[str, Any]] = []
        t0 = time.perf_counter()
        _clients(b, client, keys, grid,
                 max(1, round(b.seconds * SERVE_REQUESTS_PER_CLIENT_S)), records)
        region_s = time.perf_counter() - t0
        hits, misses = _health(client)
        hits, misses = hits - hits0, misses - misses0
    finally:
        api.shutdown()

    out.walls_s.append(region_s)
    out.latencies_s = [r["latency_s"] for r in records]
    for r in records:
        out.attempted += 1
        problem = checker.check(r, api.max_rows)
        if problem:
            out.fail(problem)
    out.details["requests"] = len(records)
    out.details["resends"] = sum(r["resends"] for r in records)
    out.concurrency = SERVE_CLIENTS
    out.details["p50_ms_by_kind"] = {
        k: round(percentile([r["latency_s"] * 1e3 for r in records if r["kind"] == k], 50), 2)
        for k in SERVE_DECK if any(r["kind"] == k for r in records)}
    out.details["cache"] = {"hits": hits, "misses": misses}
    if b.traced:
        extra = storage_extra(b, before)
        extra.update(_http_layers(b, records, hits, misses))
        extra["trace.wall_s"] = region_s
        out.layers = per_layer(b, "serve.client", spans.spark_jobs(b.spark, mark), extra)
    return out


def _http_layers(b: Bench, records: list[dict[str, Any]], hits: int,
                 misses: int) -> dict[str, float]:
    """Client latency split by whether the server ran the query (a miss:
    its run_cached span has a serving.run child) or served the cache."""
    by_parent: dict[int, list[dict[str, Any]]] = {}
    for s in b.tracer.spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def missed(span_id: int) -> bool:
        for h in by_parent.get(span_id, []):
            for rc in by_parent.get(h["id"], []):
                if any(s["name"] == "serving.run" for s in by_parent.get(rc["id"], [])):
                    return True
        return False

    hit_ms = [r["latency_s"] * 1e3 for r in records if not missed(r["span"])]
    miss_ms = [r["latency_s"] * 1e3 for r in records if missed(r["span"])]
    lookups = hits + misses
    return {
        "http.hit_latency_ms": percentile(hit_ms, 50) if hit_ms else 0.0,
        "http.miss_latency_ms": percentile(miss_ms, 50) if miss_ms else 0.0,
        "http.response_bytes": (sum(len(r["body"]) for r in records) / len(records)
                                if records else 0.0),
        "cache.hit_ratio": hits / lookups if lookups else 0.0,
        "cache.lookups": lookups,
        "http.resends": sum(r["resends"] for r in records),
    }
