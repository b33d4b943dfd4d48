"""HTTP API layer e2e: a live ThreadingHTTPServer over a real serving
table, exercising the reference's handler flow field-for-field
(handler.go:24-73, router.go, enableCORS, isRateLimited,
LinkOut/ApiError JSON tags)."""

from __future__ import annotations

import datetime
import http.client
import json
import threading
import urllib.error
import urllib.request

import pytest

from globallinks_spark.httpapi import (
    MAX_BODY_BYTES,
    RateLimiter,
    is_valid_domain,
    make_server,
    parse_api_request,
)
from globallinks_spark.operators.linkdb import (
    LinkQuery,
    get_domain_links,
    to_json_response,
)
from tests.fixtures import serving_rows


class TestRateLimiter:
    def test_limit_and_window_reset(self):
        t = [0.0]
        rl = RateLimiter(limit=3, window_sec=900, clock=lambda: t[0])
        assert [rl.is_limited("a") for _ in range(3)] == [False] * 3
        assert rl.is_limited("a") is True          # 4th in window
        assert rl.is_limited("b") is False         # other clients unaffected
        t[0] = 901.0                               # window elapsed → reset
        assert rl.is_limited("a") is False

    def test_expired_entries_are_evicted(self):
        t = [0.0]
        rl = RateLimiter(window_sec=900, clock=lambda: t[0])
        for i in range(1000):
            rl.is_limited(f"10.0.{i // 250}.{i % 250}")
        t[0] = 901.0                               # every window expired
        assert rl.is_limited("late") is False
        assert len(rl._records) == 1

    def test_fifty_per_fifteen_minutes_defaults(self):
        t = [0.0]
        rl = RateLimiter(clock=lambda: t[0])       # reference defaults
        assert [rl.is_limited("ip")
                for _ in range(50)] == [False] * 50
        assert rl.is_limited("ip") is True
        assert rl.window_sec == 15 * 60 and rl.limit == 50


class TestEdgeValidation:
    def test_domain_regex_matches_reference_cases(self):
        # wat.go:125 regex semantics
        assert is_valid_domain("example.com")
        assert is_valid_domain("sub.EXAMPLE.co.uk")
        assert not is_valid_domain("nodots")
        assert not is_valid_domain("-bad.com")
        assert not is_valid_domain("exa mple.com")

    def test_url_to_host_normalization(self):
        q = parse_api_request(
            json.dumps({"domain": "https://www.example.com/path"}).encode()
        )
        assert q.domain == "www.example.com"       # handler.go:46-53

    def test_missing_domain_raises(self):
        with pytest.raises(KeyError):
            parse_api_request(b"{}")

    def test_filters_parse(self):
        q = parse_api_request(json.dumps({
            "domain": "d.com",
            "filters": [{"name": "Anchor", "val": "click", "kind": "any"}],
            "sort": "linkUrl", "order": "desc", "limit": 5, "page": 2,
        }).encode())
        assert q.filters == [("Anchor", "click", "any")]
        assert (q.sort, q.order, q.limit, q.page) == ("linkUrl", "desc", 5, 2)


@pytest.fixture(scope="module")
def served():
    """Server over a 2-domain serving table; query_fn is the production
    get_domain_links + to_json_response composition."""
    rows = [
        ("target-one.org", "", "/article", "", "2", f"page{i}.example.org",
         "/", "", "2", f"anchor {i}", i % 2, 0,
         datetime.date(2023, 1, 1 + i), datetime.date(2023, 2, 1 + i),
         f"10.0.0.{i}", 1)
        for i in range(5)
    ] + [
        ("other.net", "", "/x", "", "2", "src.example.org", "/", "", "2",
         "t", 0, 0, datetime.date(2023, 1, 1), datetime.date(2023, 1, 2),
         "10.9.9.9", 3),
    ]
    serving = serving_rows(rows)

    def query_fn(q: LinkQuery):
        return to_json_response(get_domain_links(serving, q))

    srv = make_server(query_fn, host="127.0.0.1", port=0,
                      limiter=RateLimiter(limit=1000))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, payload):
    req = urllib.request.Request(
        base + "/api/links", data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), dict(e.headers)


class TestEndToEnd:
    def test_health(self, served):
        with urllib.request.urlopen(served + "/api/health") as r:
            assert r.status == 200
            assert r.read() == b"I am alive!"      # healthcheck.go:18

    def test_links_response_matches_linkout_fields(self, served):
        status, docs, headers = _post(served, {"domain": "target-one.org"})
        assert status == 200
        assert headers["Access-Control-Allow-Origin"] == "*"
        assert len(docs) == 5
        # LinkOut JSON tags, field-for-field (models.go:28-38)
        assert set(docs[0]) == {
            "link_url", "page_url", "link_text", "no_follow", "no_index",
            "date_from", "date_to", "ip", "qty",
        }
        assert docs[0]["link_url"] == "https://target-one.org/article"
        assert docs[0]["date_from"] == "2023-01-01"
        assert docs[0]["ip"] == ["10.0.0.0"]
        assert docs[0]["qty"] == 1

    def test_filters_and_pagination(self, served):
        status, docs, _ = _post(served, {
            "domain": "target-one.org",
            "filters": [{"name": "No Follow", "val": "1", "kind": "exact"}],
        })
        assert status == 200
        assert len(docs) == 2 and all(d["no_follow"] == 1 for d in docs)
        status, docs, _ = _post(
            served, {"domain": "target-one.org", "limit": 2, "page": 3}
        )
        assert status == 200 and len(docs) == 1    # 5 rows → page 3 of 2

    def test_page_past_the_end_is_empty(self, served):
        """An offset past any table (here 9,999,999,900) is an empty page,
        not a 500: it once overflowed the query engine's int offset."""
        for page in (3, 100_000_000, 10**30):
            status, docs, _ = _post(
                served, {"domain": "target-one.org", "page": page})
            assert (status, docs) == (200, []), page

    def test_url_domain_normalized(self, served):
        status, docs, _ = _post(served, {"domain": "http://other.net/deep"})
        assert status == 200 and len(docs) == 1 and docs[0]["qty"] == 3

    def test_error_paths(self, served):
        status, doc, _ = _post(served, {})
        assert (status, doc["errorCode"]) == (400, "ErrorNoDomain")
        status, doc, _ = _post(served, {"domain": "not a domain"})
        assert (status, doc["errorCode"]) == (400, "ErrorInvalidDomain")
        req = urllib.request.Request(
            served + "/api/links", data=b"{not json", method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 400
        assert json.loads(ei.value.read())["errorCode"] == "ErrorParsing"

    def test_options_cors_preflight(self, served):
        req = urllib.request.Request(served + "/api/links", method="OPTIONS")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert r.headers["Access-Control-Allow-Origin"] == "*"

    def test_rate_limited_request_gets_429(self):
        srv = make_server(
            lambda q: [], host="127.0.0.1", port=0,
            limiter=RateLimiter(limit=1),
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        try:
            status, _, _ = _post(base, {"domain": "example.com"})
            assert status == 200
            status, doc, _ = _post(base, {"domain": "example.com"})
            assert (status, doc["errorCode"]) == (429, "ErrorTooManyRequests")
        finally:
            srv.shutdown()


class TestQueryFailure:
    def test_failure_is_500_and_logged(self, capsys):
        """A failing query answers the reference's 500 body, and its
        exception reaches stderr (request logging is silenced)."""
        def failing(q):
            raise RuntimeError("serving table unreadable")

        srv = make_server(failing, host="127.0.0.1", port=0,
                          limiter=RateLimiter(limit=1000))
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            status, doc, _ = _post(
                f"http://127.0.0.1:{srv.server_address[1]}",
                {"domain": "example.com"},
            )
        finally:
            srv.shutdown()
        assert (status, doc) == (500, {
            "errorCode": "ErrorFailedLinks",
            "function": "HandlerGetDomainLinks",
            "error": "Error getting links",
        })
        err = capsys.readouterr().err
        assert "RuntimeError: serving table unreadable" in err
        assert "example.com" in err


class TestTLS:
    """The reference's production mode serves TLS
    (linkdb.go:51 ListenAndServeTLS) — the server must accept
    certfile/keyfile and answer over https."""

    @pytest.fixture(scope="class")
    def cert_pair(self, tmp_path_factory):
        import subprocess

        d = tmp_path_factory.mktemp("tls")
        cert, key = str(d / "cert.pem"), str(d / "key.pem")
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048",
             "-keyout", key, "-out", cert, "-days", "2", "-nodes",
             "-subj", "/CN=localhost",
             "-addext", "subjectAltName=IP:127.0.0.1"],
            check=True, capture_output=True,
        )
        return cert, key

    @pytest.fixture(scope="class")
    def tls_served(self, cert_pair):
        cert, key = cert_pair
        srv = make_server(
            lambda q: ['{"ok": 1}'], host="127.0.0.1", port=0,
            limiter=RateLimiter(limit=1000),
            certfile=cert, keyfile=key,
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        yield f"https://127.0.0.1:{srv.server_address[1]}", cert
        srv.shutdown()

    def test_health_over_https(self, tls_served):
        import ssl

        base, cert = tls_served
        ctx = ssl.create_default_context(cafile=cert)
        with urllib.request.urlopen(
            base + "/api/health", context=ctx
        ) as r:
            assert r.status == 200
            assert r.read() == b"I am alive!"

    def test_links_over_https(self, tls_served):
        import ssl

        base, cert = tls_served
        ctx = ssl.create_default_context(cafile=cert)
        req = urllib.request.Request(
            base + "/api/links",
            data=json.dumps({"domain": "example.com"}).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, context=ctx) as r:
            assert r.status == 200
            assert json.loads(r.read()) == [{"ok": 1}]

    def test_plain_http_to_tls_port_fails(self, tls_served):
        """A cleartext client against the TLS socket must NOT silently
        succeed — the reference's production listener is TLS-only."""
        base, _ = tls_served
        plain = base.replace("https://", "http://")
        with pytest.raises(Exception):
            urllib.request.urlopen(plain + "/api/health", timeout=5)


class TestMalformedFilters:
    def test_non_dict_filter_entries_return_400(self, served):
        """A filters list of strings must surface as the reference's 400
        ErrorParsing, not an uncaught AttributeError dropping the
        connection (round-2 review finding)."""
        for bad in (["nofollow"], "nofollow", {"name": "x"}, [1, 2]):
            status, doc, _ = _post(
                served, {"domain": "example.com", "filters": bad}
            )
            assert (status, doc["errorCode"]) == (400, "ErrorParsing"), bad

    def test_non_string_fields_return_400(self, served):
        """sort/order and each filter's name/val/kind decode into Go
        strings in the reference, so another JSON type is its 400. Here
        a list once reached the query layer and raised TypeError
        (unhashable list) there: a 500 ErrorFailedLinks."""
        for body in (
            {"domain": "example.com", "sort": ["linkUrl"]},
            {"domain": "example.com", "order": {"dir": "desc"}},
            {"domain": "example.com",
             "filters": [{"name": ["Anchor"], "val": "x"}]},
            {"domain": "example.com",
             "filters": [{"name": "Anchor", "val": 1}]},
            {"domain": "example.com",
             "filters": [{"name": "Anchor", "val": "x", "kind": 0}]},
        ):
            status, doc, _ = _post(served, body)
            assert (status, doc["errorCode"]) == (400, "ErrorParsing"), body


    def test_infinite_limit_or_page_is_400(self, served):
        """``1e999`` decodes to an infinite float, whose int() overflows;
        that once escaped the handler and dropped the connection."""
        host, port = served.removeprefix("http://").split(":")
        for field in ("limit", "page"):
            conn = http.client.HTTPConnection(host, int(port), timeout=10)
            try:
                conn.request(
                    "POST", "/api/links",
                    '{"domain":"d.com","%s":1e999}' % field,
                    {"Content-Type": "application/json"})
                r = conn.getresponse()
                status, doc = r.status, json.loads(r.read())
            finally:
                conn.close()
            assert (status, doc["errorCode"]) == (400, "ErrorParsing"), field

    def test_pattern_rejected_by_re2_is_400(self, served):
        """Filters are RE2 patterns: lookarounds, backreferences and
        unbalanced groups are refused up front."""
        for val in ("(?=a)", "(a)\\1", "a("):
            status, doc, _ = _post(served, {
                "domain": "target-one.org",
                "filters": [{"name": "Anchor", "val": val, "kind": "any"}],
            })
            assert (status, doc["errorCode"]) == (400, "ErrorParsing"), val


class TestContentLength:
    """The edge must not trust Content-Length: a negative value once
    became ``rfile.read(-1)`` (blocks until the client hangs up) and a
    huge one was read into memory unbounded. Both are refused before any
    of the body is read — these requests send no body at all, so a
    server that tried to read one would hit the client timeout."""

    @staticmethod
    def _post_declared(base: str, length: int) -> tuple[int, dict]:
        host, port = base.removeprefix("http://").split(":")
        conn = http.client.HTTPConnection(host, int(port), timeout=10)
        try:
            conn.putrequest("POST", "/api/links")
            conn.putheader("Content-Type", "application/json")
            conn.putheader("Content-Length", str(length))
            conn.endheaders()
            r = conn.getresponse()
            return r.status, json.loads(r.read())
        finally:
            conn.close()

    def test_negative_length_is_400(self, served):
        status, doc = self._post_declared(served, -1)
        assert (status, doc["errorCode"]) == (400, "ErrorParsing")

    def test_oversized_length_is_413(self, served):
        status, doc = self._post_declared(served, MAX_BODY_BYTES + 1)
        assert (status, doc["errorCode"]) == (413, "ErrorTooLarge")
        status, doc = self._post_declared(served, 1 << 40)
        assert status == 413


class TestServeProcess:
    """``serve`` and ``query`` read the table with pyarrow and start no
    Spark: no JVM child process, no SparkSession."""

    @pytest.fixture(scope="class")
    def stored(self, spark, tmp_path_factory):
        from globallinks_spark.schemas import COMPACT_SCHEMA
        from globallinks_spark.sources.serving import write_serving_table

        rows = [("target-one.org", "", "/article", "", "2", "a.example.org",
                 "/", "", "2", "anchor", 0, 0, datetime.date(2023, 1, 1),
                 datetime.date(2023, 2, 1), "10.0.0.1", 2)]
        path = str(tmp_path_factory.mktemp("serve") / "serving")
        write_serving_table(
            spark.createDataFrame(rows, COMPACT_SCHEMA), path, buckets=8)
        return path

    def test_serve_starts_no_jvm(self, stored):
        import os
        import socket
        import subprocess
        import sys
        import time

        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.Popen(
            [sys.executable, "-m", "globallinks_spark", "serve", stored,
             str(port)], cwd=root, stdout=subprocess.DEVNULL)
        base = f"http://127.0.0.1:{port}"
        try:
            t_end = time.monotonic() + 60
            while True:
                try:
                    with urllib.request.urlopen(base + "/api/health") as r:
                        assert r.status == 200
                        break
                except urllib.error.URLError:
                    assert proc.poll() is None, "serve exited"
                    assert time.monotonic() < t_end, "serve never healthy"
                    time.sleep(0.1)
            status, docs, _ = _post(base, {"domain": "target-one.org"})
            assert status == 200
            assert docs == [{
                "link_url": "https://target-one.org/article",
                "page_url": "https://a.example.org/", "link_text": "anchor",
                "no_follow": 0, "no_index": 0, "date_from": "2023-01-01",
                "date_to": "2023-02-01", "ip": ["10.0.0.1"], "qty": 2,
            }]
            children = []
            for task in os.listdir(f"/proc/{proc.pid}/task"):
                with open(f"/proc/{proc.pid}/task/{task}/children") as f:
                    children += f.read().split()
            assert children == []
        finally:
            proc.terminate()
            proc.wait(timeout=30)

    def test_query_cli_starts_no_spark(self, stored, monkeypatch, capsys):
        from globallinks_spark import session
        from globallinks_spark.__main__ import main

        def no_spark(*args, **kwargs):
            raise AssertionError("query started a SparkSession")

        monkeypatch.setattr(session, "get_spark", no_spark)
        assert main(["globallinks_spark", "query", stored,
                     "target-one.org"]) == 0
        (line,) = capsys.readouterr().out.splitlines()
        assert json.loads(line)["qty"] == 2
