"""Shared LRU-cache discipline for the driver-local probes.

The driver-local probes keep an ``OrderedDict`` LRU bounded by
``_cache_cap``; ``LocalIVFProbe``'s batched search methods preload a
whole batch's miss set, which is wasted I/O unless the preloaded
entries SURVIVE until the per-query scoring pass. This context manager
is that rule, written once: raise the cap for the batch's duration,
then restore it and trim oldest-first — including on the exception
path.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def raised_cache_cap(probe, n: int):
    """Temporarily raise ``probe._cache_cap`` to at least ``n``;
    restore and trim the LRU back down on exit (including errors)."""
    old_cap = probe._cache_cap
    probe._cache_cap = max(old_cap, n)
    try:
        yield
    finally:
        probe._cache_cap = old_cap
        while len(probe._cache) > probe._cache_cap:
            probe._cache.popitem(last=False)
