"""Table-loader metadata caches stay bounded."""

from __future__ import annotations


def test_module_caches_bounded():
    """r11 verdict item 7: the (path, mtime, size)-keyed metadata caches
    must not grow monotonically across fixture regenerations."""
    from bigdatatiler_spark import tables

    cache: dict = {}
    for i in range(tables._CACHE_CAP * 3):
        tables._cache_put(cache, ("k", i), i)
    assert len(cache) <= tables._CACHE_CAP
    # newest entries survive
    assert ("k", tables._CACHE_CAP * 3 - 1) in cache
