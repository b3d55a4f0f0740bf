"""Session-scoped derived artifacts: one memo, one invalidation path,
one disposer.

Expensive corpus-wide intermediates (the dedup chain, the token stream,
the quality frames, the ANN index, the BM25 posting store) are built
ONCE per (session, corpus dir) and every consumer reads the built
object — the in-session analog of the persisted signature store.  Each
entry may carry a disposer that releases what the object holds outside
the Python heap (a managed table on disk); LRU eviction, invalidation
and interpreter exit all release an entry through the same ``_dispose``.
Frames without a disposer (localCheckpoint blocks) are reclaimed by
Spark's ContextCleaner once unreferenced.
"""

from __future__ import annotations

import atexit
import os
import shutil
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

from cassandra_extractor_spark.sources.catalog import _norm_dir

#: cap for the per-session memo: one sf_dir uses ~18 slots (dedup:
#: tok_leads, shingles, kgrams, bands, pair_base, pairs×2 bucket
#: policies, clusters, token_stream; quality: text_quality, clf_scores,
#: rep_flags; ANN: normed embeddings, cells, codebook, codes, brute
#: ground truth; the BM25 store); 48 lets two standard sf dirs coexist
#: while one-shot differential tmp dirs churn through the tail (same
#: rationale as catalog._TABLE_CACHE_CAP)
_CHAIN_CACHE_CAP = 48

#: sessions that hold disposer-bearing entries — the exit hook walks them
_OWNERS: list = []


def session_memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], Any],
    dispose: Callable[[SparkSession, Any], None] | None = None,
) -> Any:
    """Return the object memoized under ``key`` for this session,
    building it on a miss.  ``key[1]`` is the corpus directory (the
    invalidation scope).  ``dispose(spark, obj)``, when given, runs
    exactly once when the entry leaves the memo: LRU eviction,
    ``invalidate_dedup_chain`` or interpreter exit.

    The memo lives ON the session object (a replaced session can't
    serve stale JVM handles) and is LRU-capped."""
    cache: dict = spark.__dict__.setdefault("_ce_dedup_chain", {})
    # normalize the dir so two spellings of one corpus (trailing slash,
    # relative vs absolute) share an entry, and invalidation with
    # either spelling hits it
    key = (key[0], _norm_dir(key[1]), *key[2:])
    if key in cache:
        cache[key] = cache.pop(key)  # move-to-end: mark most recent
        return cache[key]
    obj = build()
    while len(cache) >= _CHAIN_CACHE_CAP:
        _dispose(spark, next(iter(cache)))  # evict least-recently-used
    cache[key] = obj
    if dispose is not None:
        spark.__dict__.setdefault("_ce_disposers", {})[key] = dispose
        if not any(s is spark for s in _OWNERS):
            if not _OWNERS:
                # registered on first use, after the session's JVM
                # gateway: atexit runs LIFO, so disposal precedes
                # PySpark's own JVM shutdown hook
                atexit.register(_dispose_all_at_exit)
            _OWNERS.append(spark)
    return obj


def invalidate_dedup_chain(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop (and dispose) memoized entries for ``sf_dir``, or all of
    them — required after rewriting a corpus directory in place
    (``catalog.invalidate_table_cache`` calls this), and used by the
    bench to charge the one-time builds explicitly."""
    norm = None if sf_dir is None else _norm_dir(sf_dir)
    cache = spark.__dict__.get("_ce_dedup_chain", {})
    for key in [k for k in cache if norm is None or k[1] == norm]:
        _dispose(spark, key)


def _dispose(spark: SparkSession, key: tuple) -> None:
    obj = spark.__dict__["_ce_dedup_chain"].pop(key)
    dispose = spark.__dict__.get("_ce_disposers", {}).pop(key, None)
    if dispose is not None:
        dispose(spark, obj)


def _dispose_all_at_exit() -> None:
    """A process that builds disk-backed entries and exits without
    invalidating (a gate run, a bench, a notebook) must not leave them
    accruing in the shared warehouse.  The JVM may already be gone:
    each disposer still gets its turn (``drop_managed_tables`` removes
    the directories even when the catalog DROP fails)."""
    for spark in _OWNERS:
        for key in list(spark.__dict__.get("_ce_disposers", {})):
            try:
                _dispose(spark, key)
            except Exception:  # noqa: BLE001 — JVM may be gone
                pass


def warehouse_dir(spark: SparkSession) -> str:
    """Local path of the session's managed-table warehouse.  The setting
    is static per session, so it is read once and kept on the session —
    disposal at exit then works without a live JVM."""
    wh = spark.__dict__.get("_ce_warehouse")
    if wh is None:
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        wh = wh[len("file:") :] if wh.startswith("file:") else wh
        spark.__dict__["_ce_warehouse"] = wh
    return wh


def drop_managed_tables(spark: SparkSession, names: Iterable[str]) -> None:
    """DROP each managed table and remove its warehouse directory.  The
    directories go even if a DROP fails, so an orphaned location can
    never block a later ``saveAsTable`` with LOCATION_ALREADY_EXISTS."""
    names = list(names)
    wh = warehouse_dir(spark)
    try:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        if wh:
            for t in names:
                shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
