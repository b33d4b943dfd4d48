"""HTTP API layer — the reference's linksapi binary over ``query_links``.

Stdlib-only port of the reference's server surface
(/root/reference/pkg/linkdb/):

- router: ``GET /api/health`` + ``POST /api/links``
  (router.go:10-31; health body "I am alive!", healthcheck.go:16-25)
- CORS middleware: permissive headers on every response, OPTIONS
  short-circuits (linkdb.go:80-96 enableCORS)
- fixed-window rate limit, 50 requests / 15 min / client identifier,
  window anchored at the first request (controller.go:282-307
  isRateLimited) → 429 with an ApiError body
- request flow (handler.go:24-73): rate-limit gate → JSON body parse
  (400 ErrorParsing) → domain required (400 ErrorNoDomain) → http(s)
  URL → host normalization (handler.go:46-53) → IsValidDomain regex
  gate (wat.go:125,613-620; 400 ErrorInvalidDomain) → controller →
  200 JSON array of LinkOut / 500 ErrorFailedLinks
- error body: {"errorCode", "function", "error"} (models.go:60-65
  ApiError tags; error.go:6-13 GenerateError)

``linkdb.query_serving`` answers each request in this process: a pyarrow
read of one bucket directory, then merge, sort and page in Arrow. The
server is one ThreadingHTTPServer and starts no Spark.
"""

from __future__ import annotations

import http.server
import json
import re
import sys
import threading
import time
import traceback
import urllib.parse
from collections.abc import Callable

from globallinks_spark.config import VALID_DOMAIN_REGEX
from globallinks_spark.operators.linkdb import (
    LinkQuery, check_patterns, query_serving, to_json_response)

RATE_LIMIT = 50                  # controller.go:283
RATE_WINDOW_SEC = 15 * 60        # controller.go:284
_HEALTH_BODY = b"I am alive!"    # healthcheck.go:18
# a LinkQuery body is a few hundred bytes; anything past this is refused
# (413) before a byte of it is read, so a request can't grow the heap
MAX_BODY_BYTES = 64 << 10

# Python re has no inline (?i) mid-pattern requirement; the Go pattern
# carries a leading (?i) which Python only allows at the very start —
# strip it and pass re.IGNORECASE instead (same semantics).
_VALID_DOMAIN = re.compile(
    VALID_DOMAIN_REGEX.replace("(?i)", "", 1), re.IGNORECASE
)


def is_valid_domain(domain: str) -> bool:
    """IsValidDomain (wat.go:613-620) — the edge gate the handler applies
    before any query work."""
    return bool(_VALID_DOMAIN.match(domain))


def api_error(code: str, function: str, info: str) -> bytes:
    """GenerateError (error.go:6-13) with ApiError's JSON tags."""
    return json.dumps(
        {"errorCode": code, "function": function, "error": info}
    ).encode()


class RateLimiter:
    """Fixed-window limiter, window anchored at each identifier's first
    request (isRateLimited, controller.go:282-307). ``clock`` is
    injectable for tests."""

    def __init__(
        self,
        limit: int = RATE_LIMIT,
        window_sec: float = RATE_WINDOW_SEC,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.limit = limit
        self.window_sec = window_sec
        self.clock = clock
        self._records: dict[str, tuple[float, int]] = {}
        self._swept = float("-inf")
        self._lock = threading.Lock()

    def is_limited(self, identifier: str) -> bool:
        now = self.clock()
        with self._lock:
            # an expired entry only ever gets reset, so dropping them
            # once per window bounds the map by the clients of the last
            # two windows instead of every client ever seen
            if now - self._swept > self.window_sec:
                self._records = {
                    k: r for k, r in self._records.items()
                    if now - r[0] <= self.window_sec
                }
                self._swept = now
            rec = self._records.get(identifier)
            if rec is None or now - rec[0] > self.window_sec:
                self._records[identifier] = (now, 1)
                return False
            first, count = rec
            count += 1
            self._records[identifier] = (first, count)
            return count > self.limit


def _optional_str(obj: dict, key: str, default: str | None) -> str | None:
    """``obj[key]`` when it is a string, ``default`` when absent or null.
    The reference decodes these fields into Go strings, so any other JSON
    type is a 400 there; here it is a ValueError (→ 400 ErrorParsing)."""
    value = obj.get(key)
    if value is None:
        return default
    if not isinstance(value, str):
        raise ValueError(f"{key} must be a string")
    return value


def parse_api_request(body: bytes) -> LinkQuery:
    """APIRequest JSON (models.go:40-58) → LinkQuery. Raises ValueError
    on unparseable JSON, a mistyped field or a filter pattern RE2
    rejects, OverflowError on an infinite limit or page,
    KeyError("domain") when absent/empty."""
    doc = json.loads(body)
    if not isinstance(doc, dict):
        raise ValueError("request body must be a JSON object")
    domain = doc.get("domain")
    if not domain:
        raise KeyError("domain")
    # accepts http://domain.com and domain.com (handler.go:46-53)
    if isinstance(domain, str) and domain.startswith("http"):
        domain = urllib.parse.urlparse(domain).netloc or domain
    raw_filters = doc.get("filters") or []
    if not isinstance(raw_filters, list) or not all(
        isinstance(f, dict) for f in raw_filters
    ):
        # anything else (string, list of strings, …) must surface as the
        # reference's 400 ErrorParsing, not an uncaught AttributeError
        # that drops the connection
        raise ValueError("filters must be a list of objects")
    filters = [
        (_optional_str(f, "name", ""), _optional_str(f, "val", ""),
         _optional_str(f, "kind", "exact"))
        for f in raw_filters
    ]
    check_patterns(filters)
    return LinkQuery(
        domain=str(domain),
        limit=int(doc.get("limit") or 100),
        page=int(doc.get("page") or 1),
        sort=_optional_str(doc, "sort", None),
        order=_optional_str(doc, "order", None) or "asc",
        filters=filters,
    )


def make_handler(
    query_fn: Callable[[LinkQuery], list[str]],
    limiter: RateLimiter,
) -> type[http.server.BaseHTTPRequestHandler]:
    """Build the request handler around a ``LinkQuery -> [json row]``
    callable (in production: linkdb.query_serving + to_json_response)."""

    class Handler(http.server.BaseHTTPRequestHandler):
        def _cors(self) -> None:  # enableCORS, linkdb.go:80-96
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header(
                "Access-Control-Allow-Methods",
                "POST, GET, OPTIONS, PUT, DELETE",
            )
            self.send_header(
                "Access-Control-Allow-Headers",
                "Accept, Content-Type, Content-Length, Accept-Encoding, "
                "X-CSRF-Token, Authorization",
            )

        def _send(self, status: int, body: bytes,
                  content_type: str = "application/json") -> None:
            self.send_response(status)
            self._cors()
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_OPTIONS(self):  # noqa: N802
            self.send_response(200)
            self._cors()
            self.end_headers()

        def do_GET(self):  # noqa: N802
            if self.path == "/api/health":
                self._send(200, _HEALTH_BODY, "text/plain")
            else:
                self._send(404, api_error(
                    "ErrorNotFound", "router", "no such route"))

        def do_POST(self):  # noqa: N802
            if self.path != "/api/links":
                self._send(404, api_error(
                    "ErrorNotFound", "router", "no such route"))
                return
            if limiter.is_limited(self.client_address[0]):
                self._send(429, api_error(
                    "ErrorTooManyRequests", "HandlerGetDomainLinks",
                    "Too Many Requests"))
                return
            try:
                length = int(self.headers.get("Content-Length", 0))
                if length < 0:
                    raise ValueError(f"negative Content-Length {length}")
                if length > MAX_BODY_BYTES:
                    self._send(413, api_error(
                        "ErrorTooLarge", "HandlerGetDomainLinks",
                        f"request body over {MAX_BODY_BYTES} bytes"))
                    return
                q = parse_api_request(self.rfile.read(length))
            except KeyError:
                self._send(400, api_error(
                    "ErrorNoDomain", "HandlerGetDomainLinks",
                    "Domain is required"))
                return
            except (ValueError, TypeError, OverflowError) as e:
                self._send(400, api_error(
                    "ErrorParsing", "HandlerGetDomainLinks",
                    f"Error parsing request: {e}"))
                return
            if not is_valid_domain(q.domain):
                self._send(400, api_error(
                    "ErrorInvalidDomain", "HandlerGetDomainLinks",
                    "Invalid domain"))
                return
            try:
                rows = query_fn(q)
            except Exception:  # controller failure → 500, handler.go:60-63
                # log_message is silenced, so this is the failure's only
                # trace
                print(f"POST /api/links {q.domain!r} failed:",
                      file=sys.stderr)
                traceback.print_exc()
                self._send(500, api_error(
                    "ErrorFailedLinks", "HandlerGetDomainLinks",
                    "Error getting links"))
                return
            self._send(200, b"[" + b",".join(r.encode() for r in rows) + b"]")

        def log_message(self, *args):  # quiet: a 500 logs its own traceback
            pass

    return Handler


def make_server(
    query_fn: Callable[[LinkQuery], list[str]],
    host: str = "127.0.0.1",
    port: int = 8010,  # linkdb.go:57 non-production default
    limiter: RateLimiter | None = None,
    certfile: str | None = None,
    keyfile: str | None = None,
) -> http.server.ThreadingHTTPServer:
    """Construct (without starting) the server — tests drive it on an
    ephemeral port; ``serve`` runs it forever.

    With ``certfile``/``keyfile`` the listening socket is wrapped in a
    server-side TLS context — the reference's production mode
    (linkdb.go:51 ``ListenAndServeTLS(":8443", cert, key)``); without
    them it stays plain HTTP (linkdb.go:57 non-production mode)."""
    srv = http.server.ThreadingHTTPServer(
        (host, port), make_handler(query_fn, limiter or RateLimiter())
    )
    if certfile is not None:
        import ssl

        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(certfile, keyfile)
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    return srv


def serve(
    serving_path: str, port: int = 8010,
    certfile: str | None = None, keyfile: str | None = None,
) -> None:
    """``python -m globallinks_spark serve`` — the linksapi binary.
    Pass ``--cert``/``--key`` for the reference's TLS production mode
    (linkdb.go:49-57: production serves :8443 over TLS)."""
    def query_fn(q: LinkQuery) -> list[str]:
        return to_json_response(query_serving(serving_path, q))

    srv = make_server(
        query_fn, host="0.0.0.0", port=port,
        certfile=certfile, keyfile=keyfile,
    )
    scheme = "https" if certfile else "http"
    print(f"linksapi listening on :{port} ({scheme})")
    srv.serve_forever()
