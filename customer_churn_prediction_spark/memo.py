"""One keyed memo for every plan, relation and fitted-model cache.

A model is fit once and scored many times; an interactive session
asks many queries of unchanged data. Both kinds of reuse rest on this
store and on one rule.

What may be stored (the no-precompute rule): lazy plans (table
relations, whole registered-query DataFrames) and fitted models
(centroids, codebooks, lookup tables, merge tables, band statistics,
training splits, loaded serving bundles). Never a query result: every
execution of a stored plan re-reads its sources, and every stored
model is a function of its inputs alone.

The version rule: an entry is keyed by ``(kind, key)`` and carries a
``version`` — the state of the inputs it was built from, usually
``table_version`` of the tables it reads, or a content fingerprint
where the caller computes one. A lookup hits only when the stored
version equals the caller's. An insert replaces the entry with the
same ``(kind, key)``, so a re-ingested table at the same path misses
and its stale entry is dropped, never accumulated.

Dropping an entry frees nothing explicitly; no kind registers a
release hook. The fit inputs in ``ml.training`` and ``ml.vectorized``
are checkpointed blocks, which Spark's ContextCleaner frees once no
frame references them. A plan-memoized query built on those blocks
(``ml_feature_vectors``) may outlive the fit entry, so freeing them on
eviction would break it.

Kinds in use: ``relation`` (catalog), ``plan`` (plans.registry),
``ann.centroids`` and ``ann.semantic_centroids`` (similarity.ann),
``pq.codebook`` and ``pq.lut`` (similarity.pq), ``bpe.merges``
(text.vocab), ``dsir.bands`` (text.selection), ``ml.training`` and
``ml.vectorized`` (ml.jobs), ``serving.model`` (ml.serving). Keys
carry the Spark ``applicationId`` wherever the value holds JVM
objects, so a restarted session never sees a dead context's frames.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

_entries: dict[tuple[str, Hashable], tuple[Hashable, Any]] = {}


def get(kind: str, key: Hashable, version: Hashable) -> Any:
    """The stored value, or None unless its version equals ``version``."""
    entry = _entries.get((kind, key))
    if entry is not None and entry[0] == version:
        return entry[1]
    return None


def put(kind: str, key: Hashable, version: Hashable, value: Any) -> Any:
    """Store ``value`` (never None), replacing any entry at
    ``(kind, key)``; returns ``value``."""
    _entries[(kind, key)] = (version, value)
    return value


def cached(
    kind: str, key: Hashable, version: Hashable, build: Callable[[], Any]
) -> Any:
    """``get``, or ``put`` of ``build()`` on a miss. A stale entry is
    dropped before ``build`` runs, so the two versions' values are
    never held at once."""
    hit = get(kind, key, version)
    if hit is not None:
        return hit
    _entries.pop((kind, key), None)
    return put(kind, key, version, build())


def entries(kind: str) -> dict[Hashable, tuple[Hashable, Any]]:
    """A copy of ``kind``'s entries as ``{key: (version, value)}``."""
    return {k: e for (kd, k), e in _entries.items() if kd == kind}


def clear(kind: str) -> None:
    """Drop every ``kind`` entry."""
    for slot in [s for s in _entries if s[0] == kind]:
        del _entries[slot]


def table_version(sf_dir: str, *tables: str) -> tuple[int, ...]:
    """``st_mtime_ns`` of each ``<sf_dir>/<table>.parquet`` (0 when
    absent): rewriting a table file or directory moves its mtime."""
    out = []
    for t in tables:
        try:
            out.append(os.stat(f"{sf_dir}/{t}.parquet").st_mtime_ns)
        except OSError:
            out.append(0)
    return tuple(out)
