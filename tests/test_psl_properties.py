"""Hypothesis property tests for the pure public-suffix kernel — the one
algorithm in the engine with no oracle (Go publicsuffix parity risk,
SURVEY §7.3)."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from globallinks_spark.functions.psl import etld_plus_one_py, suffix_len

label = st.text(
    alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=8
)
host = st.lists(label, min_size=1, max_size=6).map(".".join)


class TestEtld1Properties:
    @given(host)
    @settings(max_examples=300, deadline=None)
    def test_result_is_dot_suffix_of_host(self, h):
        d = etld_plus_one_py(h)
        if d is not None:
            assert h == d or h.endswith("." + d)
            assert "." in d

    @given(host)
    @settings(max_examples=300, deadline=None)
    def test_idempotent(self, h):
        d = etld_plus_one_py(h)
        if d is not None:
            assert etld_plus_one_py(d) == d

    @given(host)
    @settings(max_examples=300, deadline=None)
    def test_suffix_len_bounded(self, h):
        labels = h.split(".")
        k = suffix_len(labels)
        assert 1 <= k <= len(labels)

    @given(label)
    @settings(max_examples=100, deadline=None)
    def test_single_label_has_no_registrable_domain(self, l):
        assert etld_plus_one_py(l) is None

    @given(host)
    @settings(max_examples=200, deadline=None)
    def test_prepending_label_preserves_domain(self, h):
        """Adding a subdomain label never changes the registrable
        domain."""
        d = etld_plus_one_py(h)
        if d is not None:
            assert etld_plus_one_py("extra." + h) == d
