"""Public-suffix list: loader, the eTLD+1 algorithm, and the factored
rule tables it reads (P3).

The reference resolves registrable domains with the full Mozilla PSL via
``golang.org/x/net/publicsuffix`` (wat.go:660-672). This module loads
the same list from a bundled snapshot
(``globallinks_spark/data/public_suffix_list.dat``, the publicsuffix.org
file as shipped by Debian's ``publicsuffix`` package, MPL-2.0) and
factors it three ways:

- ``RULES`` — the raw rule set (exact + ``*.`` wildcard + ``!``
  exception entries), augmented with IDNA/punycode variants of the 466
  unicode rules so both unicode and xn-- hosts resolve;
- ``suffix_len(labels)`` — the PSL algorithm, behind
  ``etld_plus_one_py``: the only eTLD+1 implementation. Spark runs it
  once per distinct host of each Arrow batch
  (``urltools.with_registrable_domain``); the API path calls it per
  request;
- ``EXCEPTIONS_BY_LEN`` / ``EXACT_BY_LEN`` / ``TAILS_BY_LEN`` — the
  rules split by kind and label count, which ``suffix_len`` probes
  with one set lookup per suffix length, longest first.

Rule-count sanity is pinned by tests: the snapshot has ~9.5k rules
(5,483 two-label, 2,375 three-label, 100 four-label, 68 five-label, 107
wildcards, 8 exceptions); a truncated or missing data file fails loudly
at import.

PSL algorithm (publicsuffix.org/list/):
  1. the longest matching rule wins (labels compared right-to-left;
     ``*`` matches exactly one label);
  2. ``!`` exception rules beat everything — the suffix is the
     exception minus its leftmost label;
  3. no match → the implicit ``*`` rule (the bare TLD is the suffix);
  4. registrable domain = public suffix + one preceding label.

On a cluster, workers import this module from the shipped package
(``--py-files`` wheel / cluster image), so the data file travels with
the code; there is no driver-side broadcast to coordinate.
"""

from __future__ import annotations

import os
from functools import lru_cache

_DATA_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "public_suffix_list.dat",
)


def _puny_label(label: str) -> str | None:
    """IDNA/punycode form of one label, or None if not encodable."""
    try:
        return label.encode("idna").decode("ascii")
    except (UnicodeError, UnicodeDecodeError):
        return None


def _puny_rule(rule: str) -> str | None:
    """Punycode variant of a rule, preserving ``!``/``*`` markers."""
    neg = rule.startswith("!")
    body = rule[1:] if neg else rule
    out: list[str] = []
    changed = False
    for lab in body.split("."):
        if lab == "*":
            out.append(lab)
            continue
        p = _puny_label(lab)
        if p is None:
            return None
        changed = changed or (p != lab)
        out.append(p)
    if not changed:
        return None
    return ("!" if neg else "") + ".".join(out)


def load_rules(path: str | None = None) -> frozenset[str]:
    """Parse a ``public_suffix_list.dat`` file into the rule set.

    Comment (``//``) and blank lines are dropped; both ICANN and
    private-section rules are kept (the reference's Go package uses the
    full list). Unicode rules additionally contribute their punycode
    form so hosts arriving in either encoding match.
    """
    with open(path or _DATA_PATH, encoding="utf-8") as fh:
        rules: set[str] = set()
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            rule = line.split()[0].lower()
            rules.add(rule)
            puny = _puny_rule(rule)
            if puny is not None:
                rules.add(puny)
    if len(rules) < 9000:  # snapshot integrity; see module docstring
        raise RuntimeError(
            f"public_suffix_list.dat looks truncated: {len(rules)} rules"
        )
    return frozenset(rules)


RULES: frozenset[str] = load_rules()

# --- factored tables -------------------------------------------------------
# Single-label exact rules are behaviorally identical to the implicit "*"
# rule (suffix length 1) and are omitted from the probe tables.

EXCEPTIONS_BY_LEN: dict[int, frozenset[str]] = {}
TAILS_BY_LEN: dict[int, frozenset[str]] = {}
EXACT_BY_LEN: dict[int, frozenset[str]] = {}
for _r in RULES:
    if _r.startswith("!"):
        body = _r[1:]
        n = body.count(".") + 1
        EXCEPTIONS_BY_LEN.setdefault(n, set())  # type: ignore[arg-type]
        EXCEPTIONS_BY_LEN[n] |= {body}  # type: ignore[assignment]
    elif _r.startswith("*."):
        tail = _r[2:]
        n = tail.count(".") + 1
        TAILS_BY_LEN.setdefault(n, set())  # type: ignore[arg-type]
        TAILS_BY_LEN[n] |= {tail}  # type: ignore[assignment]
    else:
        n = _r.count(".") + 1
        if n >= 2:
            EXACT_BY_LEN.setdefault(n, set())  # type: ignore[arg-type]
            EXACT_BY_LEN[n] |= {_r}  # type: ignore[assignment]
EXCEPTIONS_BY_LEN = {k: frozenset(v) for k, v in EXCEPTIONS_BY_LEN.items()}
TAILS_BY_LEN = {k: frozenset(v) for k, v in TAILS_BY_LEN.items()}
EXACT_BY_LEN = {k: frozenset(v) for k, v in EXACT_BY_LEN.items()}

# Longest possible public suffix: the longest exact rule, or the longest
# wildcard tail + the one label the "*" consumes.
MAX_SUFFIX_LEN: int = max(
    max(EXACT_BY_LEN, default=1),
    max(TAILS_BY_LEN, default=0) + 1,
)


def suffix_len(labels: list[str]) -> int:
    """Number of labels in the public suffix of ``labels`` (the PSL
    algorithm)."""
    n = len(labels)
    top = min(n, MAX_SUFFIX_LEN + 1)
    # exception rules prevail over any longer match (PSL spec step: "if
    # more than one rule matches, the prevailing rule is the exception")
    for k in range(top, 1, -1):
        if ".".join(labels[n - k:]) in EXCEPTIONS_BY_LEN.get(k, ()):
            return k - 1  # suffix = exception minus its leftmost label
    for k in range(top, 1, -1):
        cand = ".".join(labels[n - k:])
        if cand in EXACT_BY_LEN.get(k, ()):
            return k
        if ".".join(labels[n - k + 1:]) in TAILS_BY_LEN.get(k - 1, ()):
            return k
    return 1  # implicit "*" rule


# Bounded: Spark's reused Python workers call this for every distinct
# host they see, so an unbounded cache would grow with the crawl.
@lru_cache(maxsize=1 << 16)
def etld_plus_one_py(host: str) -> str | None:
    """Registrable domain of an already-lowercased host, or None when it
    has none (single label, or the host IS a public suffix). Mirrors
    ``publicsuffix.EffectiveTLDPlusOne``'s error path (wat.go:662-666),
    which the reference treats as drop-the-row."""
    if not host:
        return None
    labels = host.strip(".").split(".")
    if len(labels) < 2:
        return None
    k = suffix_len(labels)
    if k >= len(labels):
        return None
    return ".".join(labels[len(labels) - k - 1:])
