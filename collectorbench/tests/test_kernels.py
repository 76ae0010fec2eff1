"""The cache hit share the traced run reports beside the kernel times."""

import functools

import pytest

from kernels import _hit_share


def test_hit_share_counts_only_the_measured_pass():
    cache = functools.lru_cache(maxsize=2)(lambda x: x)
    # warmed with a, b; then a hits, c misses and evicts b, a hits
    assert _hit_share(cache, ["a", "b"], ["a", "c", "a"]) == pytest.approx(2 / 3)


def test_hit_share_of_distinct_values_is_zero():
    cache = functools.lru_cache(maxsize=None)(lambda x: x)
    assert _hit_share(cache, ["a"], ["b", "c"]) == 0
