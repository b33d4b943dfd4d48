"""The serving side: the request mix, a closed-loop load generator for
``POST /api/links``, and the DuckDB oracle for its answers.

The server's rate limiter allows 50 requests per client address per
15 minutes, so every simulated user sends from its own loopback
address (127.x.y.z) and retires after ``REQUESTS_PER_USER`` requests.
Any response other than 200 counts as a failed operation.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import random
import threading
import time
from collections import Counter

import duckdb

REQUESTS_PER_USER = 50
WARM_REQUESTS = 2        # untimed requests after the server's first reply
LINKOUT_KEYS = {"link_url", "page_url", "link_text", "no_follow", "no_index",
                "date_from", "date_to", "ip", "qty"}


class Addresses:
    """Hands out loopback source addresses, one per simulated user."""

    def __init__(self, first_octet: int) -> None:
        self._it = ((first_octet, b, c) for b in range(256) for c in range(1, 255))
        self._lock = threading.Lock()

    def next(self) -> str:
        with self._lock:
            return "127.%d.%d.%d" % next(self._it)


def serving_domains(serving: str) -> list[tuple[str, int]]:
    """(link_domain, rows) of the serving table, most rows first."""
    return duckdb.sql(
        "SELECT link_domain, count(*) AS n FROM read_parquet("
        f"'{serving}/domain_bucket=*/*.parquet', hive_partitioning=true) "
        "GROUP BY 1 ORDER BY 2 DESC, 1").fetchall()


class RequestMix:
    """Seeded request bodies: ~60% plain domain, 15% ``www.`` subdomain,
    10% filters, 10% date sort or page 2-3, 5% absent domains. Domains
    are Zipfian over the table's domains ranked by row count.

    Draws are stratified in blocks of ``BLOCK`` requests: each block
    holds the mix's exact proportions and one domain from each
    ``1/BLOCK`` slice of the Zipf distribution, so runs with different
    seeds send equally heavy traffic."""

    BLOCK = 20

    def __init__(self, domains: list[tuple[str, int]], seed: int) -> None:
        self.domains = [d for d, _ in domains]
        cum, tot = [], 0.0
        for r in range(1, len(self.domains) + 1):
            tot += 1.0 / r
            cum.append(tot)
        self._cum = cum
        self.rng = random.Random(seed)
        self._lock = threading.Lock()
        self._block: list[tuple[float, float]] = []

    def _domain(self, u: float | None = None) -> str:
        r = (self.rng.random() if u is None else u) * self._cum[-1]
        return self.domains[min(bisect.bisect(self._cum, r), len(self.domains) - 1)]

    def next(self) -> dict:
        with self._lock:
            if not self._block:
                kinds = list(range(self.BLOCK))
                slices = list(range(self.BLOCK))
                self.rng.shuffle(kinds)
                self.rng.shuffle(slices)
                self._block = [((k + 0.5) / self.BLOCK,
                                (z + self.rng.random()) / self.BLOCK)
                               for k, z in zip(kinds, slices)]
            r, u = self._block.pop()
            return self.body(r, u)

    def body(self, r: float, u: float | None = None) -> dict:
        """The request of mix position ``r`` in [0, 1), for the domain at
        Zipf quantile ``u`` (drawn when not given)."""
        d = self._domain(u)
        if r < 0.60:
            return {"domain": d}
        if r < 0.75:
            return {"domain": f"www.{d}"}
        if r < 0.80:
            return {"domain": d, "filters": [
                {"name": "Anchor", "val": d.split(".")[0][:6], "kind": "any"}]}
        if r < 0.85:
            return {"domain": d, "filters": [
                {"name": "No Follow", "val": str(self.rng.randrange(2))}]}
        if r < 0.90:
            return {"domain": d, "sort": "dateFrom", "order": "desc"}
        if r < 0.95:
            return {"domain": d, "page": 2 + self.rng.randrange(2), "limit": 20}
        return {"domain": f"absent{self.rng.randrange(10**6)}.example.org"}


def post(port: int, source: str, body: dict, request_id: str = "",
         timeout: float = 60.0) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection(
        "127.0.0.1", port, timeout=timeout, source_address=(source, 0))
    try:
        conn.request("POST", "/api/links", json.dumps(body),
                     {"Content-Type": "application/json",
                      "X-Request-Id": request_id})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def valid_body(body: bytes, limit: int) -> bool:
    """A JSON array of at most ``limit`` LinkOut objects."""
    try:
        rows = json.loads(body)
    except ValueError:
        return False
    return isinstance(rows, list) and len(rows) <= limit and all(
        isinstance(r, dict) and set(r) == LINKOUT_KEYS for r in rows)


def closed_loop(port: int, mix: RequestMix, clients: int, seconds: float,
                addresses: Addresses, on_reply=None, rid_prefix: str = "") -> dict:
    """``clients`` threads, each sending its next request when the
    previous reply arrives, until ``seconds`` have passed. Request ids
    are ``rid_prefix`` plus a sequence number. Returns the
    latencies of good replies (seconds), the attempted and failed
    counts, the window length, and every (body, status, reply)."""
    lat: list[float] = []
    replies: list[tuple] = []
    failed = Counter()
    attempted = itertools.count()
    lock = threading.Lock()
    t_end = time.perf_counter() + seconds

    def client() -> None:
        sent, source = REQUESTS_PER_USER, None
        while time.perf_counter() < t_end:
            if sent == REQUESTS_PER_USER:
                sent, source = 0, addresses.next()
            body = mix.next()
            rid = f"{rid_prefix}{next(attempted)}"
            t0 = time.perf_counter()
            try:
                status, reply = post(port, source, body, rid)
            except (OSError, http.client.HTTPException) as e:
                status, reply = type(e).__name__, b""
            dt = time.perf_counter() - t0
            sent += 1
            ok = status == 200 and valid_body(reply, body.get("limit", 100))
            with lock:
                replies.append((body, status, reply))
                if ok:
                    lat.append(dt)
                else:
                    failed[str(status)] += 1
            if on_reply is not None:
                on_reply(rid, dt, ok)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"latencies": lat, "attempted": next(attempted),
            "failed": sum(failed.values()), "failures": dict(failed),
            "window_s": time.perf_counter() - t0, "replies": replies}


# ---- oracle ---------------------------------------------------------------

_SORTS = {
    None: ["link_domain", "link_path", "link_raw_query", "page_host",
           "page_path", "page_raw_query", "date_from", "date_to"],
    "dateFrom": ["date_from"],
}


def probe_set(domains: list[tuple[str, int]], seed: int, n: int) -> list[dict]:
    """``n`` fixed requests spread evenly over the branches of the mix,
    alternating the most-linked domains (multi-page answers) and small
    ones."""
    rng = random.Random(seed)
    big = [d for d, _ in domains[:10]]
    small = [d for d, rows in domains if rows <= 40][:200] or big
    return [RequestMix([(big[i % len(big)] if i % 2 else rng.choice(small), 1)],
                       seed).body((i + 0.5) / n)
            for i in range(n)]


class Oracle:
    """The API answer computed by DuckDB from the serving table's parquet
    (loaded once into memory): domain/subdomain filter, A6 merge, sort,
    offset and limit."""

    def __init__(self, serving: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE serving AS SELECT * FROM read_parquet("
            f"'{serving}/domain_bucket=*/*.parquet', hive_partitioning=true)")

    def rows(self, body: dict) -> tuple[list[tuple], int]:
        """(the requested page's rows, each with its sort key; the total
        number of merged rows)."""
        domain = body["domain"].lower()
        parts = domain.split(".")
        # the generator's domains are label + public suffix; a 'www.'
        # prefix is the only subdomain the mix sends
        where = "link_domain = $d"
        params = {"d": domain}
        if parts[0] == "www":
            where = "link_domain = $d AND link_sub_domain = 'www'"
            params["d"] = ".".join(parts[1:])
        for f in body.get("filters", []):
            if f["name"] == "No Follow":
                where += f" AND no_follow = {int(f['val'])}"
            elif f["name"] == "Anchor":
                where += " AND regexp_matches(link_text, $a, 'i')"
                params["a"] = f["val"]
        desc = body.get("order") == "desc"
        order = ", ".join(
            f"{c} {'DESC' if desc else 'ASC'}" for c in _SORTS[body.get("sort")])
        limit = body.get("limit", 100)
        offset = (body.get("page", 1) - 1) * limit
        scheme = "CASE WHEN {0} = '1' THEN 'http' ELSE 'https' END"
        sql = f"""
        WITH r AS (
          SELECT *,
            {scheme.format('link_scheme')} || '://'
              || CASE WHEN link_sub_domain = '' THEN link_domain
                      ELSE link_sub_domain || '.' || link_domain END
              || link_path
              || CASE WHEN link_raw_query = '' THEN '' ELSE '?' || link_raw_query END
              AS link_url,
            {scheme.format('page_scheme')} || '://' || page_host || page_path
              || CASE WHEN page_raw_query = '' THEN '' ELSE '?' || page_raw_query END
              AS page_url
          FROM serving WHERE {where}),
        m AS (
          SELECT link_url, page_url, link_text, no_follow,
            arg_min(no_index, strftime(date_from, '%Y%m%d') || strftime(date_to, '%Y%m%d'))
              AS no_index,
            min(date_from) AS date_from, max(date_to) AS date_to,
            list_sort(list_distinct(list(ip))) AS ip,
            CAST(sum(qty) AS INTEGER) AS qty,
            min(link_domain) AS link_domain, min(link_path) AS link_path,
            min(link_raw_query) AS link_raw_query, min(page_host) AS page_host,
            min(page_path) AS page_path, min(page_raw_query) AS page_raw_query
          FROM r GROUP BY link_url, page_url, link_text, no_follow)
        SELECT link_url, page_url, link_text, no_follow, no_index,
          strftime(date_from, '%Y-%m-%d'), strftime(date_to, '%Y-%m-%d'), ip, qty,
          count(*) OVER () AS total, {", ".join(_SORTS[body.get("sort")])}
        FROM m ORDER BY {order}
        """
        rows = self.con.execute(sql, params).fetchall()
        total = rows[0][9] if rows else 0
        return ([(_norm_tuple(r[:9]), tuple(r[10:]))
                 for r in rows[offset:offset + limit]], total)

    def check(self, body: dict, reply: bytes) -> bool:
        """Compare one API reply with the oracle. When the whole answer
        fits in one page the rows must match as a multiset; otherwise
        rows with equal sort keys may legally straddle the page
        boundary, so the sort keys must match in order and every row
        must be one of the oracle's."""
        want, total = self.rows(body)
        got = [_norm_tuple([r[k] for k in (
            "link_url", "page_url", "link_text", "no_follow", "no_index",
            "date_from", "date_to", "ip", "qty")]) for r in json.loads(reply)]
        if total <= body.get("limit", 100) and body.get("page", 1) == 1:
            return sorted(got) == sorted(row for row, _ in want)
        keys = dict(self.rows({**body, "page": 1, "limit": total})[0])
        return (len(got) == len(want) and all(g in keys for g in got)
                and [keys[g] for g in got] == [key for _, key in want])

    def wrong(self, replies: list[tuple]) -> int:
        """How many 200 replies disagree with the oracle."""
        return sum(not self.check(body, reply)
                   for body, status, reply in replies if status == 200)


def _norm_tuple(r) -> tuple:
    return (r[0], r[1], r[2], int(r[3]), int(r[4]), r[5], r[6],
            tuple(r[7]), int(r[8]))


# ---- traced, in-process serving ---------------------------------------------

class TracedServer:
    """``httpapi.make_server`` hosted in this process, with the
    ``query_fn`` that ``httpapi.serve`` composes: ``runner.query_links``
    then ``linkdb.to_json_response``. While ``tracing`` is on, the
    handler, both calls and their Spark jobs are spans of the request
    named by the client's ``X-Request-Id`` header."""

    def __init__(self, spark, tracer, serving: str) -> None:
        from globallinks_spark import httpapi
        from globallinks_spark.operators.linkdb import to_json_response
        from globallinks_spark.runner import query_links

        self.tracing = False
        self.rows: dict[str, int] = {}
        local = threading.local()
        outer = self

        def query_fn(q):
            if not outer.tracing:
                return to_json_response(query_links(spark, serving, q))
            rid, parent = local.rid, local.sid
            with tracer.span("runner.query_links", parent, rid, label_jobs=True):
                df = query_links(spark, serving, q)
            with tracer.span("operators.linkdb.to_json_response", parent, rid,
                             label_jobs=True):
                rows = to_json_response(df)
            outer.rows[rid] = len(rows)
            return rows

        self.srv = httpapi.make_server(query_fn, port=0)

        class Handler(self.srv.RequestHandlerClass):
            def do_POST(self):  # noqa: N802
                if not outer.tracing:
                    return super().do_POST()
                rid = self.headers.get("X-Request-Id", "")
                with tracer.span("httpapi.handler", request=rid) as sid:
                    local.rid, local.sid = rid, sid
                    return super().do_POST()

        self.srv.RequestHandlerClass = Handler
        self.port = self.srv.server_address[1]
        self._thread = threading.Thread(target=self.srv.serve_forever)
        self._thread.start()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self._thread.join()


def request_metrics(tracer, counters, rows: dict[str, int]) -> dict:
    """Per-request layer metrics over every traced request: the two
    query calls, the HTTP edge (client round trip minus both calls) and
    the Spark work of each request from its job groups."""
    from measure import median

    by_req: dict[str, dict] = {}
    for s in tracer.spans:
        if s.get("request") in rows:
            by_req.setdefault(s["request"], {})[s["name"]] = s
    ql, js, edge, jobs, tasks, cpu = [], [], [], [], [], []
    scanned = 0.0
    counters.flush()
    for rid, spans in by_req.items():
        if "client.request" not in spans:
            continue
        d = {n: s["end"] - s["start"] for n, s in spans.items()}
        ql.append(d["runner.query_links"])
        js.append(d["operators.linkdb.to_json_response"])
        edge.append(d["client.request"] - ql[-1] - js[-1])
        c = [counters.group(f"{n}#{spans[n]['id']}") for n in
             ("runner.query_links", "operators.linkdb.to_json_response")]
        jobs.append(sum(x["jobs"] for x in c))
        tasks.append(sum(x["tasks"] for x in c))
        cpu.append(sum(x["cpu_s"] for x in c))
        scanned += sum(x["input_records"] for x in c)
    n = max(len(ql), 1)
    return {
        "runner.query_links_ms": median(ql) * 1e3,
        "operators.linkdb.to_json_response_ms": median(js) * 1e3,
        "httpapi.edge_ms": median(edge) * 1e3,
        "spark.jobs_per_request": sum(jobs) / n,
        "spark.tasks_per_request": sum(tasks) / n,
        "spark.cpu_ms_per_request": sum(cpu) / n * 1e3,
        "sources.serving.rows_scanned_per_row_returned":
            scanned / max(sum(rows[r] for r in by_req), 1),
    }


def _client_span(tracer, rid: str, dt: float) -> None:
    end = time.perf_counter()
    tracer.add("client.request", end - dt, end, request=rid)


def traced_probes(spark, tracer, counters, serving: str, seed: int, n: int) -> dict:
    """``n`` oracle probes through a traced in-process server (after one
    untraced warm-up request)."""
    srv = TracedServer(spark, tracer, serving)
    ok = []
    try:
        domains = serving_domains(serving)
        oracle = Oracle(serving)
        source = Addresses(first_octet=3).next()
        post(srv.port, source, {"domain": domains[0][0]})
        srv.tracing = True
        for i, body in enumerate(probe_set(domains, seed, n)):
            rid = f"probe{i}"
            t0 = time.perf_counter()
            status, reply = post(srv.port, source, body, rid)
            _client_span(tracer, rid, time.perf_counter() - t0)
            ok.append(status == 200 and oracle.check(body, reply))
    finally:
        srv.close()
    return {"metrics": request_metrics(tracer, counters, srv.rows),
            "attempted": n + 1, "failed": ok.count(False),
            "info": {"probes_ok": ok.count(True)}}


def traced_load(spark, tracer, counters, serving: str, seed: int,
                clients: int, seconds: float) -> dict:
    """The api workload against a traced in-process server, in four
    equal phases with tracing off, on, on, off; the tracing overhead is
    the median latency of traced phases minus that of untraced ones.
    Every good reply is then checked against the oracle."""
    from measure import median

    srv = TracedServer(spark, tracer, serving)
    lat = {False: [], True: []}
    attempted = failed = 0
    replies = []
    try:
        domains = serving_domains(serving)
        addrs = Addresses(first_octet=2)
        warm, warm_mix = addrs.next(), RequestMix(domains, seed + 1)
        post(srv.port, warm, {"domain": domains[0][0]})
        for _ in range(WARM_REQUESTS):
            post(srv.port, warm, warm_mix.next())
        mix = RequestMix(domains, seed)
        for phase in range(4):
            srv.tracing = phase in (1, 2)
            cb = (lambda rid, dt, ok: _client_span(tracer, rid, dt)) \
                if srv.tracing else None
            res = closed_loop(srv.port, mix, clients, seconds / 4, addrs, cb,
                              rid_prefix=f"{phase}-")
            lat[srv.tracing] += res["latencies"]
            attempted += res["attempted"]
            failed += res["failed"]
            replies += res["replies"]
    finally:
        srv.close()
    wrong = Oracle(serving).wrong(replies)
    metrics = request_metrics(tracer, counters, srv.rows)
    metrics["trace.overhead_ms"] = (median(lat[True]) - median(lat[False])) * 1e3
    return {"metrics": metrics, "attempted": attempted,
            "failed": failed + wrong,
            "info": {"requests": len(lat[False]) + len(lat[True]),
                     "oracle_mismatches": wrong}}
