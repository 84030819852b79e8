"""HTTP serving surface over the query catalog (stdlib-only).

Reference analog: the FastAPI app (api.py:151-400) and the Streamlit
dashboard's cached data layer (dashboard.py:77 ``@st.cache_data(ttl=300)``).
This container has no FastAPI/Streamlit, so the endpoint layer is built on
``http.server.ThreadingHTTPServer`` — the routing table, auth handshake,
response shapes, and cache TTL mirror the reference:

========================  =====================================================
reference endpoint         this module
========================  =====================================================
GET  /                     service info + route listing (api.py:151-158)
GET  /health               liveness + Spark session check (api.py:160-180)
POST /auth/token           HMAC-signed bearer token (api.py:182-199's JWT
                           flow re-done with stdlib ``hmac``; same
                           ``{"access_token", "token_type"}`` response)
GET  /analytics/kpis       ``kpi_block`` — single-pass 4-KPI card
                           (api.py:202-222)
GET  /analytics/age-groups ``agg_by_agegroup`` (api.py:224-248)
GET  /analytics/diagnoses  ``topk_diagnoses?limit=`` (api.py:250-273)
GET  /analytics/providers  ``provider_utilization`` (api.py:275-299)
GET  /patients/{id}/visits ``patient_history(patient_key=id)``
                           (api.py:301-331; 404 on empty, api.py:329)
GET  /predictions/anomalies ``anomaly_listing?limit=`` (api.py:382-400)
GET  /query/{name}         any registry query (beyond-reference: the whole
                           catalog is servable; params validated by
                           ``QueryService``'s typed ``ParamSpec``s)
========================  =====================================================

Scale/driver-safety notes (the part FastAPI doesn't give you for free):

- every response **caps collected rows** (``max_rows``, default 1000,
  applied as a plan-side ``LIMIT`` via QueryService) — an endpoint can
  never ``collect()`` an unbounded DataFrame onto the driver;
- results are cached ``(query, params) → rows`` with a 300 s TTL
  (dashboard.py:77) so dashboard-style refresh loops don't re-run Spark
  jobs; ``POST /cache/clear`` is the reference's sidebar "Refresh"
  button (dashboard.py:197);
- the server is a **driver-side frontend**: all heavy lifting stays in
  Spark executors; the handler thread only holds one capped result page.

Auth matches the reference's shape, not its cryptography stack: tokens are
``base64url(payload).base64url(hmac_sha256(payload))`` with an expiry
claim — verification is constant-time (``hmac.compare_digest``). Secrets
are per-server-instance and random unless injected (api.py:34's hardcoded
SECRET_KEY is exactly what we refuse to reproduce).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import hmac
import hashlib
import json
import logging
import secrets
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from .serving import ParameterError, QueryService

_log = logging.getLogger(__name__)

TOKEN_TTL_SECONDS = 30 * 60          # api.py:35 ACCESS_TOKEN_EXPIRE_MINUTES
CACHE_TTL_SECONDS = 300              # dashboard.py:77 st.cache_data(ttl=300)
DEFAULT_MAX_ROWS = 1000

# Fixed endpoint → (catalog query, {url param → query param}) routing, the
# analog of api.py's decorated handlers. Everything else goes via /query/.
ANALYTICS_ROUTES: dict[str, tuple[str, dict[str, str]]] = {
    "/analytics/kpis": ("kpi_block", {}),
    "/analytics/age-groups": ("agg_by_agegroup", {}),
    "/analytics/diagnoses": ("topk_diagnoses", {"limit": "k"}),
    "/analytics/providers": ("provider_utilization", {}),
    "/predictions/anomalies": ("anomaly_listing", {"limit": "k"}),
}


def _b64(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


def _unb64(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


class TokenAuthority:
    """Mint/verify HMAC-signed expiring bearer tokens (api.py:125-149)."""

    def __init__(self, users: dict[str, str] | None = None,
                 secret: bytes | None = None) -> None:
        # Store only salted digests; the reference keeps plaintext-equivalent
        # bcrypt rows inline (api.py:51-57) — digests here, same check shape.
        self._salt = secrets.token_bytes(16)
        users = users if users is not None else {"admin": "admin"}
        self._users = {u: self._digest(p) for u, p in users.items()}
        self._secret = secret or secrets.token_bytes(32)

    def _digest(self, password: str) -> bytes:
        return hashlib.sha256(self._salt + password.encode()).digest()

    def issue(self, username: str, password: str) -> str | None:
        want = self._users.get(username)
        if want is None or not hmac.compare_digest(want, self._digest(password)):
            return None
        payload = json.dumps(
            {"sub": username, "exp": time.time() + TOKEN_TTL_SECONDS},
            separators=(",", ":"),
        ).encode()
        sig = hmac.new(self._secret, payload, hashlib.sha256).digest()
        return f"{_b64(payload)}.{_b64(sig)}"

    def verify(self, token: str) -> str | None:
        """Return the username for a valid unexpired token, else None."""
        try:
            p64, s64 = token.split(".")
            payload, sig = _unb64(p64), _unb64(s64)
        except Exception:
            return None
        want = hmac.new(self._secret, payload, hashlib.sha256).digest()
        if not hmac.compare_digest(want, sig):
            return None
        claims = json.loads(payload)
        if claims.get("exp", 0) < time.time():
            return None
        return claims.get("sub")


CACHE_MAX_ENTRIES = 256              # LRU bound: worst case ~max_rows rows each


class _ResultCache:
    """TTL + LRU response cache — (name, sorted params) → rows
    (dashboard.py:77). Each entry holds up to ``max_rows`` collected rows,
    so without an entry bound a param-sweeping client (10k distinct
    filter combinations) would grow driver memory unboundedly inside the
    TTL window; ``max_entries`` evicts least-recently-USED entries once
    the cap is hit (dict move-to-end on every get hit)."""

    def __init__(self, ttl: float = CACHE_TTL_SECONDS,
                 max_entries: int = CACHE_MAX_ENTRIES) -> None:
        self._ttl = ttl
        self._max = max(1, int(max_entries))
        self._lock = threading.Lock()
        self._data: dict[str, tuple[float, Any]] = {}
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(name: str, params: dict[str, Any]) -> str:
        return json.dumps([name, sorted(params.items())], default=str)

    def get(self, key: str) -> Any | None:
        with self._lock:
            hit = self._data.get(key)
            if hit is not None and hit[0] > time.monotonic():
                # move-to-end = mark most-recently-used (3.7+ dicts are
                # insertion-ordered; re-insert refreshes the position)
                del self._data[key]
                self._data[key] = hit
                self.hits += 1
                return hit[1]
            if hit is not None:  # expired — drop so it can't pin the LRU
                del self._data[key]
            self.misses += 1
            return None

    def put(self, key: str, value: Any) -> None:
        with self._lock:
            self._data.pop(key, None)
            self._data[key] = (time.monotonic() + self._ttl, value)
            while len(self._data) > self._max:
                self._data.pop(next(iter(self._data)))

    def clear(self) -> int:
        with self._lock:
            n = len(self._data)
            self._data.clear()
            return n


def _json_default(o: Any) -> Any:
    if isinstance(o, (datetime.date, datetime.datetime)):
        return o.isoformat()
    if isinstance(o, decimal.Decimal):
        return float(o)
    if isinstance(o, bytes):
        return _b64(o)
    return str(o)


def _root_detail(exc: BaseException) -> str:
    """``Type: message`` of the exception that started ``exc``'s chain."""
    while exc.__cause__ is not None or (
            exc.__context__ is not None and not exc.__suppress_context__):
        exc = exc.__cause__ or exc.__context__
    return f"{type(exc).__name__}: {exc}"


@dataclass
class ApiServer:
    """The wired-up HTTP frontend. Start with ``serve()``; stop with
    ``shutdown()``. Thread-safe: handlers run on the ThreadingHTTPServer
    pool, Spark jobs serialize through the shared SparkSession (fine — the
    scheduler interleaves them)."""

    service: QueryService
    users: dict[str, str] | None = None
    max_rows: int = DEFAULT_MAX_ROWS
    cache_ttl: float = CACHE_TTL_SECONDS
    cache_max_entries: int = CACHE_MAX_ENTRIES
    auth: TokenAuthority = field(init=False)
    cache: _ResultCache = field(init=False)
    _httpd: ThreadingHTTPServer | None = field(init=False, default=None)

    def __post_init__(self) -> None:
        self.auth = TokenAuthority(self.users)
        self.cache = _ResultCache(self.cache_ttl, self.cache_max_entries)

    # -- query execution ---------------------------------------------------

    def run_cached(self, name: str, params: dict[str, Any], limit: int | None,
                   user: str | None = None) -> list[dict[str, Any]]:
        """Execute through QueryService (typed params, audit, budget) with
        the row cap and the TTL cache in front. Logs one READ event for
        ``user`` (default: the service's) per call, cache hits included."""
        service = self.service if user is None else self.service.as_user(user)
        limit = min(int(limit), self.max_rows) if limit is not None else self.max_rows
        key = self.cache.key(name, {**params, "__limit": limit})
        rows = self.cache.get(key)
        if rows is None:
            df = service.run(name, limit=limit, **params)
            rows = [r.asDict(recursive=True) for r in df.collect()]
            self.cache.put(key, rows)
        else:
            service.log_cached_read(name, params)
        return rows

    # -- lifecycle ---------------------------------------------------------

    def serve(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Bind and serve on a daemon thread; returns the bound port."""
        api = self

        class Handler(_Handler):
            server_api = api

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._httpd.daemon_threads = True
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        return self._httpd.server_address[1]

    def shutdown(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


class _Handler(BaseHTTPRequestHandler):
    server_api: ApiServer  # injected by ApiServer.serve

    # -- plumbing ----------------------------------------------------------

    def log_message(self, *a: Any) -> None:  # quiet test output
        pass

    def _send(self, code: int, payload: Any) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, code: int, detail: str) -> None:
        # FastAPI's HTTPException JSON shape (api.py:136-140).
        self._send(code, {"detail": detail})

    def _user(self) -> str | None:
        header = self.headers.get("Authorization", "")
        if not header.startswith("Bearer "):
            return None
        return self.server_api.auth.verify(header[len("Bearer "):])

    def _query_params(self) -> dict[str, str]:
        qs = urllib.parse.urlparse(self.path).query
        return {k: v[-1] for k, v in urllib.parse.parse_qs(qs).items()}

    def _rows(self, user: str, name: str, params: dict[str, Any],
              limit: Any) -> list[dict[str, Any]] | None:
        """The query's rows, or None once an error reply has been sent."""
        try:
            return self.server_api.run_cached(name, params, limit, user)
        except KeyError:
            self._error(404, f"unknown query {name!r}")
        except (ParameterError, ValueError) as e:
            self._error(422, str(e))  # FastAPI validation-error status
        except Exception as e:  # noqa: BLE001 — logged and reported to the client
            _log.exception("serving %r failed", name)
            self._error(500, _root_detail(e))
        return None

    def _run(self, user: str, name: str, params: dict[str, Any], limit: Any) -> None:
        rows = self._rows(user, name, params, limit)
        if rows is not None:
            self._send(200, rows)

    # -- routes ------------------------------------------------------------

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler casing)
        path = urllib.parse.urlparse(self.path).path.rstrip("/") or "/"

        if path == "/":
            self._send(200, {
                "service": "healthcare-data-warehouse-spark",
                "routes": sorted(ANALYTICS_ROUTES)
                + ["/auth/token", "/health", "/patients/{id}/visits",
                   "/query/{name}", "/cache/clear"],
            })
            return
        if path == "/health":
            # api.py:160-180 pings the DB; here: is the Spark session alive?
            try:
                alive = not self.server_api.service.spark.sparkContext._jsc.sc().isStopped()
            except Exception:
                alive = False
            self._send(200 if alive else 503,
                       {"status": "healthy" if alive else "degraded",
                        "cache": {"hits": self.server_api.cache.hits,
                                  "misses": self.server_api.cache.misses}})
            return

        user = self._user()
        if user is None:
            self._error(401, "Could not validate credentials")  # api.py:136
            return

        q = self._query_params()
        if path in ANALYTICS_ROUTES:
            name, remap = ANALYTICS_ROUTES[path]
            params = {remap[k]: v for k, v in q.items() if k in remap}
            self._run(user, name, params, q.get("limit"))
            return

        parts = path.strip("/").split("/")
        if len(parts) == 3 and parts[0] == "patients" and parts[2] == "visits":
            rows = self._rows(user, "patient_history",
                              {"patient_key": parts[1]}, q.get("limit"))
            if rows is None:
                return
            if not rows:  # api.py:329
                self._error(404, "Patient not found or has no visits")
                return
            self._send(200, rows)
            return
        if len(parts) == 2 and parts[0] == "query":
            limit = q.pop("limit", None)
            self._run(user, parts[1], q, limit)
            return

        self._error(404, "Not Found")

    def do_POST(self) -> None:  # noqa: N802
        path = urllib.parse.urlparse(self.path).path.rstrip("/")
        length = int(self.headers.get("Content-Length", 0) or 0)
        raw = self.rfile.read(length) if length else b""

        if path == "/auth/token":
            # Accept both JSON and the OAuth2 form encoding FastAPI uses.
            try:
                if (self.headers.get("Content-Type") or "").startswith("application/json"):
                    creds = json.loads(raw or b"{}")
                else:
                    form = urllib.parse.parse_qs(raw.decode())
                    creds = {k: v[-1] for k, v in form.items()}
            except Exception:
                self._error(422, "malformed credentials")
                return
            token = self.server_api.auth.issue(
                str(creds.get("username", "")), str(creds.get("password", "")))
            if token is None:
                self._error(401, "Incorrect username or password")  # api.py:197
                return
            self._send(200, {"access_token": token, "token_type": "bearer"})
            return

        if path == "/cache/clear":
            if self._user() is None:
                self._error(401, "Could not validate credentials")
                return
            self._send(200, {"cleared": self.server_api.cache.clear()})
            return

        self._error(404, "Not Found")
