"""README "Measured" provenance gate.

Three consecutive judge rounds (r3-r5) found README's Measured section
quoting a number that the named artifact no longer contained — every
bench run rewrites `BENCH_DETAIL.json`, so a literal attributed to it
silently goes stale, and in r13 even an existence claim against it
failed when a bench run left the cited field out. This test makes the
drift loud instead of silent.

Convention (documented at the top of README's Measured section): every
artifact-sourced claim is a backticked token in one of two forms —

    `FILE.json:.dotted.path = VALUE`   pinned literal; this test loads
                                       FILE.json, resolves the path and
                                       asserts numeric equality.
    `FILE.json:.dotted.path`           existence claim; the path must
                                       resolve.

Claims cite frozen artifacts only (`BENCH_r{N}.json` is written once per
round); a claim in either form against the bench sidecar fails.
"""

from __future__ import annotations

import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
README = os.path.join(REPO, "README.md")

# `FILE.json:.a.b_c = 1,234.5`  or  `FILE.json:.a.b`
CLAIM_RE = re.compile(
    r"`([A-Za-z0-9_]+\.json):((?:\.[A-Za-z0-9_\[\]]+)+)"
    r"(?:\s*=\s*(-?[0-9][0-9_,]*(?:\.[0-9]+)?))?`"
)
# bench.py's sidecar, rewritten IN PLACE by every bench run: any claim
# against it can go stale or vanish between commits.
# BENCH_r{N}/CORRECTNESS_r{N} are frozen once written and stay citable.
BENCH_SIDECAR = re.compile(r"^BENCH_DETAIL")


def _resolve(doc, dotted: str):
    """Resolve '.a.b[2].c' against parsed JSON; KeyError/IndexError on
    a miss (the test reports which claim broke)."""
    cur = doc
    for part in dotted.strip(".").split("."):
        m = re.fullmatch(r"([A-Za-z0-9_]+)(?:\[(\d+)\])?", part)
        assert m, f"bad path segment {part!r} in {dotted!r}"
        cur = cur[m.group(1)]
        if m.group(2) is not None:
            cur = cur[int(m.group(2))]
    return cur


def _claims():
    with open(README, encoding="utf-8") as fh:
        text = fh.read()
    claims = CLAIM_RE.findall(text)
    assert claims, (
        "README carries no machine-checkable artifact claims — the "
        "Measured section is expected to use the `FILE.json:.path "
        "[= value]` convention this test enforces"
    )
    return claims


@pytest.mark.parametrize(
    "fname,path,value",
    _claims(),
    ids=[f"{f}:{p}" for f, p, _ in _claims()],
)
def test_readme_claim_matches_artifact(fname, path, value):
    assert not BENCH_SIDECAR.match(fname), (
        f"README cites {fname}:{path}, which every bench run rewrites — "
        f"cite a frozen per-round artifact such as BENCH_r{{N}}.json"
    )
    fpath = os.path.join(REPO, fname)
    assert os.path.exists(fpath), (
        f"README cites {fname} which is not committed at the repo root"
    )
    with open(fpath, encoding="utf-8") as fh:
        doc = json.load(fh)
    try:
        got = _resolve(doc, path)
    except (KeyError, IndexError, TypeError) as exc:
        raise AssertionError(
            f"README claims {fname}:{path} but the committed artifact "
            f"has no such field ({exc!r}) — artifact refreshed out from "
            f"under the prose; update README's Measured section"
        )
    if not value:  # findall yields '' for the absent optional group
        return  # existence claim — resolving it is the whole assertion
    want = float(value.replace(",", "").replace("_", ""))
    got_f = float(got)
    assert got_f == pytest.approx(want, rel=1e-9), (
        f"README claims {fname}:{path} = {want} but the committed "
        f"artifact records {got_f} — update the prose to match"
    )
