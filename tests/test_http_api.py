"""HTTP serving surface: routing, auth, caching, row caps, error shapes.

Mirrors the reference's FastAPI contract (api.py:151-400) — token
handshake, endpoint payloads, 401/404/422 behavior — via a live
ThreadingHTTPServer on an ephemeral port.
"""

import json
import shutil
import urllib.error
import urllib.parse
import urllib.request

import pytest

from healthcare_data_warehouse_spark.plans import catalog
from healthcare_data_warehouse_spark.plans.http_api import ApiServer, TokenAuthority
from healthcare_data_warehouse_spark.plans.serving import QueryService
from healthcare_data_warehouse_spark.sources.audit import audit_log_path, read_audit_log

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def api(spark):
    server = ApiServer(QueryService(spark, SF_DIR), users={"admin": "s3cret"})
    port = server.serve()
    yield f"http://127.0.0.1:{port}", server
    server.shutdown()


def _call(url, method="GET", token=None, body=None, content_type=None):
    req = urllib.request.Request(url, method=method)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    data = None
    if body is not None:
        data = body if isinstance(body, bytes) else json.dumps(body).encode()
        req.add_header("Content-Type", content_type or "application/json")
    try:
        with urllib.request.urlopen(req, data=data) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _token(base, username="admin", password="s3cret"):
    status, payload = _call(f"{base}/auth/token", "POST",
                            body={"username": username, "password": password})
    assert status == 200 and payload["token_type"] == "bearer"
    return payload["access_token"]


def test_root_and_health_open(api):
    base, _ = api
    status, payload = _call(f"{base}/")
    assert status == 200 and "/health" in payload["routes"]
    status, payload = _call(f"{base}/health")
    assert status == 200 and payload["status"] == "healthy"


def test_auth_rejects_bad_password_and_bad_token(api):
    base, _ = api
    status, _ = _call(f"{base}/auth/token", "POST",
                      body={"username": "admin", "password": "wrong"})
    assert status == 401
    status, payload = _call(f"{base}/analytics/kpis")
    assert status == 401 and "credentials" in payload["detail"]
    status, _ = _call(f"{base}/analytics/kpis", token="not.a.token")
    assert status == 401


def test_oauth2_form_encoding_accepted(api):
    base, _ = api
    form = urllib.parse.urlencode({"username": "admin", "password": "s3cret"}).encode()
    status, payload = _call(f"{base}/auth/token", "POST", body=form,
                            content_type="application/x-www-form-urlencoded")
    assert status == 200 and "access_token" in payload


def test_kpis_single_row_payload(api):
    base, _ = api
    status, rows = _call(f"{base}/analytics/kpis", token=_token(base))
    assert status == 200 and len(rows) == 1
    assert set(rows[0]) == {"total_patients", "total_providers",
                            "total_visits", "avg_cost"}
    assert rows[0]["total_visits"] > 0


def test_diagnoses_limit_param_maps_to_k(api):
    base, _ = api
    status, rows = _call(f"{base}/analytics/diagnoses?limit=2", token=_token(base))
    assert status == 200 and len(rows) == 2


def test_patient_visits_and_404(api):
    base, _ = api
    token = _token(base)
    status, rows = _call(f"{base}/patients/1/visits", token=token)
    assert status == 200 and len(rows) >= 1
    status, payload = _call(f"{base}/patients/999999999/visits", token=token)
    assert status == 404 and "not found" in payload["detail"].lower()
    # Injection-shaped path parameter → typed-coercion 422, not a query.
    status, _ = _call(f"{base}/patients/1%20OR%201=1/visits", token=token)
    assert status == 422


def test_generic_query_route_and_unknown_query(api):
    base, _ = api
    token = _token(base)
    status, rows = _call(f"{base}/query/agg_global_kpis", token=token)
    assert status == 200 and len(rows) == 1
    status, _ = _call(f"{base}/query/no_such_query", token=token)
    assert status == 404
    # Unknown parameter on a real query → 422 (ParamSpec rejection).
    status, _ = _call(f"{base}/query/agg_global_kpis?bogus=1", token=token)
    assert status == 422


def test_row_cap_enforced(api):
    base, server = api
    server.max_rows = 7
    try:
        status, rows = _call(f"{base}/query/project_filter?limit=100000",
                             token=_token(base))
        assert status == 200 and len(rows) == 7
    finally:
        server.max_rows = 1000


def test_cache_hit_on_repeat(api):
    base, server = api
    token = _token(base)
    server.cache.clear()
    before = server.cache.hits
    for _ in range(2):
        status, _ = _call(f"{base}/analytics/age-groups", token=token)
        assert status == 200
    assert server.cache.hits == before + 1
    _call(f"{base}/cache/clear", "POST", token=token)
    status, _ = _call(f"{base}/analytics/age-groups", token=token)
    assert status == 200 and server.cache.hits == before + 1


def test_every_served_response_audits_its_caller(spark):
    # One READ event per 200 response, naming the token's user, whether
    # the rows were computed or came from the cache another user filled.
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    server = ApiServer(QueryService(spark, SF_DIR), users={"alice": "a", "bob": "b"})
    base = f"http://127.0.0.1:{server.serve()}"
    try:
        alice, bob = _token(base, "alice", "a"), _token(base, "bob", "b")
        for token, route in [(alice, "age-groups"), (bob, "age-groups"),
                             (bob, "kpis"), (alice, "kpis")]:
            status, _ = _call(f"{base}/analytics/{route}", token=token)
            assert status == 200
        assert (server.cache.hits, server.cache.misses) == (2, 2)
        # A user= query parameter is an unknown parameter, not an identity.
        status, _ = _call(f"{base}/query/agg_global_kpis?user=mallory", token=alice)
        assert status == 422
    finally:
        server.shutdown()
    events = sorted((r["table_name"], r["user_name"], r["action_type"],
                     "cache=hit" in r["details"])
                    for r in read_audit_log(spark).collect())
    assert events == [("agg_by_agegroup", "alice", "READ", False),
                      ("agg_by_agegroup", "bob", "READ", True),
                      ("kpi_block", "alice", "READ", True),
                      ("kpi_block", "bob", "READ", False)]
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_unexpected_error_is_a_500_with_root_message(api, monkeypatch):
    base, server = api
    registry = catalog.queries

    def broken(spark, sf_dir, **params):
        try:
            raise OSError("disk gone")
        except OSError as e:
            raise RuntimeError("plan build failed") from e

    monkeypatch.setattr(catalog, "queries", lambda: {
        **registry(), "agg_global_kpis": broken, "patient_history": broken})
    server.cache.clear()
    token = _token(base)
    for route in ("/query/agg_global_kpis", "/patients/1/visits"):
        status, payload = _call(f"{base}{route}", token=token)
        assert (status, payload) == (500, {"detail": "OSError: disk gone"})


def test_token_expiry_claim_checked():
    auth = TokenAuthority({"u": "p"})
    tok = auth.issue("u", "p")
    assert auth.verify(tok) == "u"
    # Forge an expired token with the wrong key → both paths rejected.
    other = TokenAuthority({"u": "p"})
    assert other.verify(tok) is None


def test_cache_lru_entry_bound():
    from healthcare_data_warehouse_spark.plans.http_api import _ResultCache

    c = _ResultCache(ttl=300, max_entries=16)
    # 10k distinct param combinations must hold the cache at the cap.
    for i in range(10_000):
        c.put(f"k{i}", [{"v": i}])
    assert len(c._data) == 16
    # The 16 most recent survive; everything older was evicted.
    assert c.get("k9999") == [{"v": 9999}]
    assert c.get("k9984") == [{"v": 9984}]
    assert c.get("k0") is None
    # get() refreshes recency: touch k9984, insert one, k9984 survives
    # while the least-recently-used (k9985) is the one evicted.
    c.get("k9984")
    c.put("new", [{"v": -1}])
    assert c.get("k9984") is not None
    assert c.get("k9985") is None


def test_cache_expired_entries_dropped_on_get():
    from healthcare_data_warehouse_spark.plans.http_api import _ResultCache

    c = _ResultCache(ttl=-1, max_entries=4)  # already expired on insert
    c.put("a", [1])
    assert c.get("a") is None
    assert "a" not in c._data  # expired entry can't pin an LRU slot
