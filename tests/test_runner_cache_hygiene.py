"""Runner-level cache hygiene (VERDICT r5 next-#6).

Many plans ``.cache()`` intermediates (the MinHash base, SemDeDup
assignments, CC edge lists, containment token tables, ...) and rely on
the catalog runners — ``bench.py`` (clearCache before every timed run)
and ``scripts/verify_driver.py`` (clearCache per query) — to drop them.
This pins the contract from both ends:

1. running cache-heavy queries back-to-back with the runner's
   ``clearCache()`` between them leaves ZERO cached RDD blocks after
   each clear (storage memory cannot accumulate over a 227-query
   sweep), and
2. the runner sources actually contain the clearCache call, so a
   refactor that drops it fails here instead of silently re-warming
   run 2 of the bench's best-of-N.
"""

from __future__ import annotations

import os

from sports_betting_data_pipeline_spark.plans import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries whose plans cache() intermediates — the accumulation risk.
CACHE_HEAVY = ["l08_minhash_lsh", "l38_semdedup", "l57_containment_prefix_join"]


def _cached_rdd_blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.numCachedPartitions() for info in infos)


def _cached_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos if info.numCachedPartitions() > 0}


def test_clear_cache_between_queries_leaves_no_blocks(spark, sf_dir):
    # The session-scoped spark fixture may carry localCheckpoint blocks
    # from EARLIER tests (clearCache does not drop checkpoint blocks;
    # they free via GC/ContextCleaner on their own schedule), so the
    # check is on RDDs made during this loop: none of them may keep a
    # cached block past clearCache(). Reserving an id first puts every
    # RDD the loop makes above that watermark.
    spark.catalog.clearCache()
    watermark = spark.sparkContext._jsc.sc().newRddId()
    for name in CACHE_HEAVY:
        assert name in QUERIES, f"{name} left the catalog; update CACHE_HEAVY"
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # at least one query must actually materialize a cache, or this
        # test is vacuous — checked by test_cache_heavy_queries_do_cache
        spark.catalog.clearCache()
        survivors = {i for i in _cached_rdd_ids(spark) if i > watermark}
        assert not survivors, (
            f"RDDs {sorted(survivors)} kept cached blocks past clearCache() "
            f"after {name}"
        )


def test_cache_heavy_queries_do_cache(spark, sf_dir):
    """Guard the guard: the queries this test sweeps really do cache
    (if they stop, swap in current cache-users so test 1 keeps bite)."""
    spark.catalog.clearCache()
    saw_cache = False
    for name in CACHE_HEAVY:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        saw_cache = saw_cache or _cached_rdd_blocks(spark) > 0
    spark.catalog.clearCache()
    assert saw_cache, "none of CACHE_HEAVY materialized a cached RDD"


def test_runners_clear_cache_per_run():
    bench_src = open(os.path.join(_REPO, "bench.py")).read()
    timed = bench_src.split("time.perf_counter()")[0]
    assert "clearCache()" in timed.rsplit("for _ in range(runs)", 1)[-1], (
        "bench.py must clearCache() inside the per-run loop, before the "
        "timer starts (ADVICE r5: min-of-N must never time a warm replay)"
    )
    verify_src = open(os.path.join(_REPO, "scripts", "verify_driver.py")).read()
    assert "clearCache()" in verify_src
