"""Seeded synthetic WAT segment with its own expected outputs.

One call of ``write_segment`` writes ``n_files`` gzip WAT files and
returns the counts the pipeline must reproduce. The corpus is shaped
like a crawl segment rather than a kernel stress test:

- link targets are drawn Zipfian over a few thousand registrable
  domains, across single-label (``com``) and multi-label (``co.uk``,
  ``com.au``) suffixes, with punycode (``xn--``) labels mixed in, so
  host repetition follows real crawls;
- every source site repeats a handful of navigation links on each of
  its pages, and some pages are crawled twice, so A2 dedup drops rows
  and A5 compaction really merges (``qty > 1``, widened date ranges);
- a share of links is nofollow, per link or per page (robots meta);
- anchors that must not be emitted ride along: relative and same-host
  links, same-domain links, blocked domains and media extensions,
  images, unicode hosts, plus noindex pages, non-metadata records and
  garbled JSON lines.

The expected counts come from the generator's own bookkeeping of what
it wrote, not from the package's code: a link is emitted exactly when
the generator drew it from the external-target pool, and its key
(registrable domain, subdomain, path, query) is known by construction.

Run as a script to generate a segment into a directory and write the
expected counts next to it as ``expected.json`` (given a path, the
segment's compacted rows go there as parquet instead of WAT files)::

    python perfbench/corpus.py <out_dir> <seed> <n_pages> <n_files> [compacted.parquet]
"""

from __future__ import annotations

import bisect
import datetime
import gzip
import json
import os
import random
import sys
import zlib
from collections import defaultdict

# suffix → weight; multi-label public suffixes are part of the mix so
# eTLD+1 sees the rule lengths real hosts hit. (A punycode TLD such as
# xn--p1ai fails the package's domain regex, whose TLD is letters only,
# so punycode appears in labels instead.)
TARGET_SUFFIXES = {
    "com": 40, "org": 10, "net": 8, "de": 6, "co.uk": 8, "com.au": 5,
    "org.uk": 3, "co.jp": 3, "fr": 3, "io": 3, "nl": 3,
}
SOURCE_SUFFIXES = {"com": 5, "co.uk": 2, "net": 1, "com.au": 1, "de": 1}
WORDS = (
    "alpha", "bright", "cedar", "delta", "ember", "fable", "grove", "harbor",
    "island", "jade", "kettle", "lumen", "maple", "nimbus", "orbit", "pixel",
    "quartz", "river", "summit", "timber", "umber", "vertex", "willow",
    "xenon", "yonder", "zephyr",
)
PUNY_LABELS = (
    "xn--bcher-kva", "xn--mnchen-3ya", "xn--80ak6aa92e", "xn--caf-dma",
    "xn--d1acufc", "xn--e1afmkfd", "xn--fiqs8s", "xn--j1ail",
)
SECTIONS = ("news", "blog", "p", "docs", "shop", "tag", "post")
SUBDOMAINS = ("", "", "", "", "", "www", "www", "www", "blog", "shop")
BLOCKED = ("facebook.com", "twitter.com", "youtube.com", "linkedin.com")
MEDIA = (".jpg", ".png", ".pdf", ".mp4", ".zip")
# tracking prefixes the package blanks out of raw queries
BLANKED_QUERY_PREFIXES = ("lang", "utm_", "ref")

ZIPF_S = 1.1
NAV_LINKS = 5          # site-wide links repeated on every page of a site
CONTENT_LINKS = 9      # per-page Zipf draws
NOFOLLOW_PCT = 12
RECRAWL_PCT = 6
NOINDEX_PCT = 2
PAGE_NOFOLLOW_PCT = 2
GARBLED_PCT = 1
FIRST_DAY = datetime.date(2024, 1, 1)


def _zipf_cum(n: int, s: float = ZIPF_S) -> list[float]:
    cum, tot = [], 0.0
    for r in range(1, n + 1):
        tot += 1.0 / r ** s
        cum.append(tot)
    return cum


def _weighted(rng: random.Random, table: dict[str, int]) -> str:
    return rng.choices(list(table), weights=list(table.values()))[0]


def _hash_pct(*parts: str) -> int:
    return zlib.crc32("|".join(parts).encode()) % 100


def _blank(query: str) -> str:
    return "" if query.startswith(BLANKED_QUERY_PREFIXES) else query


class _Universe:
    """Target domains (Zipf-ranked) and source sites for one seed."""

    def __init__(self, rng: random.Random, n_pages: int) -> None:
        n_targets = max(200, n_pages // 4)
        n_sites = max(20, n_pages // 60)
        seen: set[str] = set()
        self.targets: list[str] = []
        while len(self.targets) < n_targets:
            if rng.random() < 0.08:
                label = f"{rng.choice(PUNY_LABELS)}{rng.randrange(1000)}"
            else:
                label = f"{rng.choice(WORDS)}{rng.choice(WORDS)}{rng.randrange(1000)}"
            dom = f"{label}.{_weighted(rng, TARGET_SUFFIXES)}"
            if dom not in seen:
                seen.add(dom)
                self.targets.append(dom)
        self.target_cum = _zipf_cum(n_targets)
        self.sites: list[tuple[str, str]] = []   # (host, registrable domain)
        while len(self.sites) < n_sites:
            dom = f"src{rng.choice(WORDS)}{len(self.sites)}.{_weighted(rng, SOURCE_SUFFIXES)}"
            sub = rng.choice(("", "www.", "blog."))
            self.sites.append((sub + dom, dom))
        self.site_cum = _zipf_cum(n_sites, 0.8)

    def target(self, rng: random.Random) -> str:
        return self.targets[bisect.bisect(self.target_cum, rng.random() * self.target_cum[-1])]

    def site(self, rng: random.Random) -> int:
        return bisect.bisect(self.site_cum, rng.random() * self.site_cum[-1])


def _link_parts(rng: random.Random, u: _Universe) -> tuple[str, str, str, str]:
    """(registrable domain, subdomain, path, raw query) of one external link."""
    dom = u.target(rng)
    sub = rng.choice(SUBDOMAINS)
    k = min(int(rng.paretovariate(1.2)) - 1, 40)
    path = "/" if k == 0 else f"/{SECTIONS[k % len(SECTIONS)]}/{k}"
    r = rng.random()
    query = f"id={k}" if r < 0.10 else ("utm_source=feed" if r < 0.13 else "")
    return dom, sub, path, query


def _url(scheme: str, host: str, path: str, query: str) -> str:
    return f"{scheme}://{host}{path}" + (f"?{query}" if query else "")


def _anchor(url: str, text: str, rel: str = "") -> dict:
    return {"path": "A@/href", "url": url, "text": text, "rel": rel}


def _envelope(uri: str, date: str, ip: str, metas: list, links: list) -> dict:
    return {"Envelope": {
        "WARC-Header-Metadata": {
            "WARC-Target-URI": uri, "WARC-Date": date,
            "WARC-IP-Address": ip, "WARC-Type": "metadata",
        },
        "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
            "Head": {"Title": f"Page {uri[-24:]}", "Metas": metas, "Link": []},
            "Links": links,
        }}},
    }}


class _Expect:
    """Bookkeeping of emitted link rows, keyed as the package keys them."""

    def __init__(self) -> None:
        # A2 key → (no_follow, link scheme, text, date, ip) of its first
        # occurrence; the generator makes no_follow a function of the
        # key, so whichever duplicate dedup keeps, no_follow agrees
        self.rows: dict[tuple, tuple] = {}
        self.pages = 0
        self.kept_pages = 0

    def add(self, key: tuple, nf: int, detail: tuple) -> None:
        prev = self.rows.setdefault(key, (nf, *detail))
        if prev[0] != nf:
            raise AssertionError(f"no_follow not a function of key {key}")

    def groups(self) -> dict[tuple, list]:
        """A5 group key → its surviving rows (the dofollow rows when any
        exist, A5's dofollow preference), as (key, row) pairs."""
        out: dict[tuple, list] = defaultdict(list)
        for key, row in self.rows.items():
            out[key[:5]].append((key, row))
        for g, rows in out.items():
            if any(r[0] == 0 for _, r in rows):
                out[g] = [(k, r) for k, r in rows if r[0] == 0]
        return out

    def summary(self) -> dict:
        groups = self.groups()
        qty = [len(rows) for rows in groups.values()]
        return {
            "pages": self.pages, "indexable_pages": self.kept_pages,
            "link_rows": len(self.rows), "compact_rows": len(groups),
            "sum_qty": sum(qty), "merged_rows": sum(q > 1 for q in qty),
            "nofollow_rows": sum(rows[0][1][0] for rows in groups.values()),
        }

    def write_compacted(self, path: str) -> None:
        """The compacted table (16 columns, A5 rules) as one parquet file:
        representative page = shortest path then query, dates widened
        over the surviving rows, ip of the latest, qty = surviving page
        variants."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = defaultdict(list)
        for g, rows in self.groups().items():
            rep = min(rows, key=lambda kr: (len(kr[0][5]), len(kr[0][6]),
                                            kr[0][5], kr[0][6]))[0]
            first = min(rows, key=lambda kr: (kr[1][1], kr[0][5], kr[0][6],
                                              "2", kr[1][2]))[1]
            values = (*g[:4], first[1], g[4], rep[5], rep[6], "2", first[2],
                      rows[0][1][0], 0, min(r[3] for _, r in rows),
                      max(r[3] for _, r in rows),
                      max((r[3], r[4]) for _, r in rows)[1], len(rows))
            for name, v in zip(COMPACT_COLUMNS, values):
                cols[name].append(v)
        types = {"no_follow": pa.int32(), "no_index": pa.int32(),
                 "qty": pa.int32(), "date_from": pa.date32(),
                 "date_to": pa.date32()}
        table = pa.table({c: pa.array(cols[c], types.get(c, pa.string()))
                          for c in COMPACT_COLUMNS})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)


COMPACT_COLUMNS = (
    "link_domain", "link_sub_domain", "link_path", "link_raw_query",
    "link_scheme", "page_host", "page_path", "page_raw_query", "page_scheme",
    "link_text", "no_follow", "no_index", "date_from", "date_to", "ip", "qty",
)


def _page_links(
    rng: random.Random, u: _Universe, nav: list, host: str, dom: str,
    page_key: str, page_nf: bool, exp: _Expect | None, day, ip: str,
) -> list[dict]:
    """Anchors of one page; emitted ones are recorded in ``exp``."""
    _, page_path, page_query = page_key.split("\x00")
    links: list[dict] = []
    for parts in nav + [_link_parts(rng, u) for _ in range(CONTENT_LINKS)]:
        ldom, sub, path, query = parts
        lhost = f"{sub}.{ldom}" if sub else ldom
        if rng.random() < 0.05:
            lhost = lhost.upper()
        key = (ldom, sub, path, _blank(query), host, page_path, page_query)
        nf = 1 if page_nf or _hash_pct(page_key, *key[:4]) < NOFOLLOW_PCT else 0
        scheme = rng.choice(("https", "https", "http"))
        text = f"{ldom.split('.')[0]} {path}"
        links.append(_anchor(
            _url(scheme, lhost, path, query), text, "nofollow" if nf else ""))
        if exp is not None:
            exp.add(key, nf, ("2" if scheme == "https" else "1", text, day, ip))
    # anchors the extractor must drop
    links += [
        _anchor(f"/{rng.choice(SECTIONS)}/{rng.randrange(50)}", "rel"),
        _anchor("/about", "about"),
        _anchor(_url("https", host, f"/{rng.choice(SECTIONS)}", ""), "self"),
        _anchor(_url("https", f"cdn.{dom}", "/asset", ""), "same domain"),
        {"path": "IMG@/src", "url": _url("https", u.target(rng), "/i.png", ""),
         "text": "", "rel": ""},
    ]
    if rng.random() < 0.10:
        links.append(_anchor(_url("https", rng.choice(BLOCKED), "/share", ""), "share"))
    if rng.random() < 0.10:
        media = f"/files/{rng.randrange(99)}{rng.choice(MEDIA)}"
        links.append(_anchor(_url("https", u.target(rng), media, ""), "file"))
    if rng.random() < 0.02:
        links.append(_anchor(f"https://bücher{rng.randrange(9)}.de/x", "idn"))
    return links


def write_segment(
    out_dir: str, seed: int, n_pages: int, n_files: int,
    compacted: str | None = None,
) -> dict:
    """Write ``n_files`` gzip WAT files of ``n_pages`` pages in total into
    ``out_dir``; return the expected pipeline counts. With ``compacted``
    set, write the segment's compacted rows to that parquet file instead
    of the WAT files (same draws, so the same rows either way)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    u = _Universe(rng, n_pages)
    navs = [
        [_link_parts(rng, u) for _ in range(NAV_LINKS)] for _ in u.sites
    ]
    paths_by_site: dict[int, list[tuple[str, str]]] = defaultdict(list)
    exp = _Expect()
    per_file = -(-n_pages // n_files)
    files = []
    for f in range(n_files):
        pages = range(f * per_file, min(n_pages, (f + 1) * per_file))
        if compacted:
            for i in pages:
                _record(rng, u, navs, paths_by_site, i, seed, exp, render=False)
            continue
        path = os.path.join(out_dir, f"bench-{seed}-{f:05d}.warc.wat.gz")
        files.append(path)
        with gzip.open(path, "wt", encoding="utf-8", compresslevel=3) as out:
            for i in pages:
                out.write(_record(rng, u, navs, paths_by_site, i, seed, exp))
    if compacted:
        exp.write_compacted(compacted)
    return {
        "seed": seed, "n_pages": n_pages, "n_files": n_files,
        "files": files, "target_domains": len(u.targets),
        "source_sites": len(u.sites), **exp.summary(),
    }


def _record(
    rng: random.Random, u: _Universe, navs: list, paths_by_site: dict,
    i: int, seed: int, exp: _Expect, render: bool = True,
) -> str:
    """One WAT record (header lines + JSON line) for page ``i``; with
    ``render`` false, only the bookkeeping (same random draws)."""
    s = u.site(rng)
    host, dom = u.sites[s]
    seen = paths_by_site[s]
    if seen and rng.random() * 100 < RECRAWL_PCT:
        page_path, raw_query = rng.choice(seen)      # same page, new date
    else:
        page_path = f"/{rng.choice(SECTIONS)}/{i}"
        r = rng.random()
        raw_query = "page=2" if r < 0.05 else ("utm_campaign=x" if r < 0.08 else "")
        seen.append((page_path, raw_query))
    uri = _url("https", host, page_path, raw_query)
    page_key = "\x00".join((host, page_path, _blank(raw_query)))
    noindex = _hash_pct("noindex", page_key) < NOINDEX_PCT
    page_nf = _hash_pct("nofollow", page_key) < PAGE_NOFOLLOW_PCT
    metas = []
    if noindex or page_nf:
        content = "noindex" if noindex else "nofollow"
        metas = [{"name": "robots", "content": content}]
    # the page's anchors depend only on the page, so a re-crawl repeats them
    page_rng = random.Random(f"{seed}\x00{page_key}")
    exp.pages += 1
    exp.kept_pages += not noindex
    day = FIRST_DAY + datetime.timedelta(days=rng.randrange(90))
    date = f"{day.isoformat()}T{rng.randrange(24):02d}:00:00Z"
    ip = f"10.{s % 250}.{i % 250}.{1 + rng.randrange(250)}"
    links = _page_links(
        page_rng, u, navs[s], host, dom, page_key, page_nf,
        None if noindex else exp, day, ip,
    )
    garbled = rng.random() * 100 < GARBLED_PCT
    request = not garbled and rng.random() < 0.05
    if not render:
        return ""
    body = json.dumps(_envelope(uri, date, ip, metas, links))
    if garbled:
        # a truncated JSON line that still passes the '{'+'href' gate
        return (
            "WARC/1.0\nWARC-Type: metadata\n\n" + body[: len(body) // 2] + "\n\n"
            + "WARC/1.0\nWARC-Type: metadata\n\n" + body + "\n\n"
        )
    if request:
        # a request record: JSON without links, dropped by the href gate
        req = json.dumps({"Envelope": {"WARC-Header-Metadata": {
            "WARC-Target-URI": uri, "WARC-Type": "request"}}})
        body = req + "\n\nWARC/1.0\nWARC-Type: metadata\n\n" + body
    return f"WARC/1.0\nWARC-Type: metadata\nWARC-Target-URI: {uri}\n\n{body}\n\n"


if __name__ == "__main__":
    if len(sys.argv) not in (5, 6):
        sys.exit(__doc__)
    out, seed, pages, nfiles = sys.argv[1], *map(int, sys.argv[2:5])
    result = write_segment(out, seed, pages, nfiles, *sys.argv[5:])
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1)
