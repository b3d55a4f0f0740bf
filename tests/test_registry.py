"""Registry consistency: the driver contract depends on QUERIES and
ORACLES staying aligned — every oracle points at a real query, and
since round 4 EVERY query has an oracle (the HLL q38 checks an
accuracy contract instead of sketch equality, SURVEY §2.9)."""

from cassandra_extractor_spark.registry import ORACLES, QUERIES


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


def test_every_query_has_an_oracle():
    assert set(QUERIES) - set(ORACLES) == set()


def test_oracles_are_nonempty_sql():
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_queries_are_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_session_memo_lru_and_invalidation(tmp_path):
    """The shared-chain cache contract: per-(session, key) memoization
    returns the identical object, the LRU cap bounds retained entries,
    and invalidate_dedup_chain / invalidate_table_cache clear by dir."""
    from cassandra_extractor_spark.operators.dedup import (
        _CHAIN_CACHE_CAP,
        invalidate_dedup_chain,
        session_memo,
    )

    class FakeSession:  # session_memo only touches __dict__
        pass

    spark = FakeSession()
    built = []

    def builder(tag):
        def b():
            built.append(tag)
            return f"frame-{tag}"
        return b

    a1 = session_memo(spark, ("bands", "/d1"), builder("a"))
    a2 = session_memo(spark, ("bands", "/d1"), builder("a'"))
    assert a1 is a2 and built == ["a"]  # memo hit, second builder never ran
    # path-spelling normalization: trailing slash / redundant segments
    # resolve to the SAME chain (two spellings must not build twice)
    a3 = session_memo(spark, ("bands", "/d1/"), builder("a-slash"))
    a4 = session_memo(spark, ("bands", "//d1/./"), builder("a-dot"))
    assert a3 is a1 and a4 is a1 and built == ["a"]

    # fill past the cap: oldest evicts, a re-ask rebuilds
    for i in range(_CHAIN_CACHE_CAP):
        session_memo(spark, ("bands", f"/x{i}"), builder(f"x{i}"))
    assert len(spark.__dict__["_ce_dedup_chain"]) == _CHAIN_CACHE_CAP
    session_memo(spark, ("bands", "/d1"), builder("a2"))
    assert built[-1] == "a2"  # /d1 was evicted, rebuilt

    # per-dir invalidation (sf_dir is key[1]) — a DIFFERENT spelling of
    # the dir must still hit the entry (post-rewrite staleness guard)
    invalidate_dedup_chain(spark, "/d1/")
    assert ("bands", "/d1") not in spark.__dict__["_ce_dedup_chain"]
    invalidate_dedup_chain(spark)
    assert spark.__dict__["_ce_dedup_chain"] == {}

    # disposer-bearing entries (the BM25 store's managed tables): each
    # is disposed exactly once, whichever path removes it, and a cache
    # hit never disposes
    disposed = []

    def memo_disposing(d):
        return session_memo(
            spark, ("store", d), builder(d), dispose=lambda s, obj: disposed.append(obj)
        )

    memo_disposing("/s1")
    memo_disposing("/s1")  # hit
    assert disposed == []
    for i in range(_CHAIN_CACHE_CAP):  # LRU eviction
        session_memo(spark, ("bands", f"/y{i}"), builder(f"y{i}"))
    assert disposed == ["frame-/s1"]
    memo_disposing("/s2")
    invalidate_dedup_chain(spark, "/s2/")  # scoped invalidation
    invalidate_dedup_chain(spark, "/s2")
    assert disposed == ["frame-/s1", "frame-/s2"]
    memo_disposing("/s3")
    memo_disposing("/s4")
    invalidate_dedup_chain(spark)  # full invalidation
    invalidate_dedup_chain(spark)
    assert sorted(disposed[2:]) == ["frame-/s3", "frame-/s4"] and len(disposed) == 4
