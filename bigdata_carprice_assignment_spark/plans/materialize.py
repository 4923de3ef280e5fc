"""Materialization barriers with an explicit lifecycle.

``DataFrame.localCheckpoint`` truncates lineage and pins RDD blocks
until the JVM garbage-collects the RDD — on a long-lived session (bench
warm runs, any shared cluster app) repeated index builds accumulate
blocks, and each run gets slower (round-2 bench: the ANN queries' warm
runs were 1.5× their cold time). :func:`pinned` uses ``persist``
instead: the plan stays recomputable, so unpersisting is always safe,
and each named pool frees its previous generation the moment a new
build starts — steady-state block usage is one generation per pool.

:func:`memo` owns every cross-query reuse in the package: an artifact
built from immutable inputs (shingles, signatures, feature vectors,
indexes, corpus statistics) is built once per (session, key) and served
to every later query of that session.
"""

from __future__ import annotations

import itertools
import logging
from collections import deque
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

# pool name or memo key -> (owning session, pinned frame or stored value)
_POOLS: dict[Hashable, tuple[SparkSession, object]] = {}


def _evict(pool: Hashable) -> None:
    _, prev = _POOLS.pop(pool, (None, None))
    if isinstance(prev, DataFrame):
        prev.unpersist(blocking=False)


def pinned(df: DataFrame, pool: Hashable, eager: bool = True) -> DataFrame:
    """``persist()`` ``df``, freeing whatever ``pool`` pinned previously.

    Safe by construction: persist keeps lineage, so if an old result is
    somehow re-collected after its blocks were freed it recomputes
    (slower, never wrong) — the failure mode ``localCheckpoint`` would
    turn into a missing-block error. ``eager`` materializes the blocks
    with one ``count()`` so downstream branches of the SAME job (e.g. a
    self-join) read the cache instead of racing to compute the upstream
    tree twice — the property the old eager localCheckpoint provided.

    A ``df`` that is already persisted (e.g. another pool's generation)
    is returned unchanged and not registered: ``persist()`` would alias
    the SAME cached storage under ``pool``, and evicting ``pool`` later
    would unpersist the other pool's blocks out from under its users.
    """
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    _evict(pool)
    out = df.persist()
    _POOLS[pool] = (out.sparkSession, out)
    if eager:
        out.count()
    return out


_FAMILY_SEQ = itertools.count()
_FAMILIES: dict[str, deque[str]] = {}


def pinned_lru(df: DataFrame, family: str, keep: int = 4, eager: bool = True) -> DataFrame:
    """``pinned`` keyed by a MONOTONIC id within ``family``, keeping the
    ``keep`` most recent generations.

    Replaces the fixed rotating-slot ring: a ring of k names means the
    (k+1)-th call in ONE composed plan silently evicts the 1st pin
    mid-plan (hidden recompute cliff — lineage keeps it correct but the
    branch re-executes from shuffle files), and concurrent plan builds
    race the slot counter. A monotonic id never reuses a name, so a pin
    is only ever evicted by AGE (logged below), never by name collision;
    ``itertools.count`` makes the id draw atomic under the GIL."""
    q = _FAMILIES.setdefault(family, deque())
    while len(q) >= keep:
        # Age-based eviction is the designed steady-state bound (one
        # new generation in, the oldest out). If a single composed plan
        # holds more than ``keep`` live cumsums the oldest branch
        # recomputes from shuffle files — slower, never wrong — and the
        # debug log names exactly which generation was dropped.
        old = q.popleft()
        _LOG.debug("pinned_lru: family %r evicting %r (keep=%d)", family, old, keep)
        _evict(old)
    name = f"{family}#{next(_FAMILY_SEQ)}"
    q.append(name)
    return pinned(df, name, eager=eager)


def release_all() -> None:
    """Unpersist every pool and drop every memo value (test teardown /
    session shutdown)."""
    for pool in list(_POOLS):
        _evict(pool)
    _FAMILIES.clear()


def pool_get(pool: Hashable, spark: SparkSession):
    """Return the entry under ``pool`` if it belongs to ``spark``, else
    None. The session-identity check guards against handing out a value
    whose SparkSession was stopped (tests spin sessions up and down in
    one process)."""
    owner, value = _POOLS.get(pool, (None, None))
    return value if owner is spark else None


def memo(spark: SparkSession, key: tuple, build: Callable[[], object]):
    """Return ``build()``'s result for ``key``, built once per session.

    Key rule: ``key`` names the artifact and every input it is a
    function of, e.g. ``("doc_shingles", sf_dir)``. A hit is served
    verbatim with no check of how it was built, so an operator that
    caches on a caller's behalf appends its own config to the caller's
    key (``(*key, "minhash_banded", bands, num_hashes)``): two configs
    never share an entry.

    A DataFrame result is pinned under ``key``; a build returning an
    already-persisted frame gets it back unregistered (see ``pinned``).
    Any other value (a tuple holding frames the build pinned itself,
    driver-side statistics, paths) is stored as is and must not be
    None. ``release_all`` drops both kinds. Concurrent misses on one key
    may each build; the last pin wins and the other frame recomputes
    from lineage (slower, never wrong)."""
    hit = pool_get(key, spark)
    if hit is not None:
        return hit
    value = build()
    if isinstance(value, DataFrame):
        return pinned(value, key)
    _POOLS[key] = (spark, value)
    return value
