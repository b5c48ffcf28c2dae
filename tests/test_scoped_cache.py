"""release_worker_state: the worker-local compound and fuzzy
segmentation paths leave broadcasts on the driver and per-worker caches
in the python worker pool; releasing them is a memory event, never a
semantic one."""

import pytest

from symspellpy_spark.operators import compound, neighborhood
from symspellpy_spark.operators.compound import lookup_compound_batch
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.scoped_cache import release_worker_state
from symspellpy_spark.operators.segmentation import word_segmentation_batch


@pytest.fixture(scope="module")
def small_dict(spark):
    words = spark.createDataFrame(
        [("steama", 4), ("steamb", 6), ("steam", 10), ("steams", 5),
         ("steem", 8), ("a", 3), ("i", 2)],
        "term string, count long",
    )
    return SparkDictionary.from_words(spark, words).cache()


def _plans(spark, d):
    docs = spark.createDataFrame(
        [(1, "steems steamm a"), (2, "steamsteem")], "doc_id long, text string"
    )
    return (
        lookup_compound_batch(docs, d),
        word_segmentation_batch(docs, d, max_edit_distance=1),
    )


def _rows(comp, seg):
    return (
        sorted((r["doc_id"], r["term"], r["distance"], r["count"]) for r in comp.collect()),
        sorted(
            (r["doc_id"], r["segmented_string"], r["corrected_string"], r["distance_sum"])
            for r in seg.collect()
        ),
    )


def test_release_worker_state(spark, small_dict):
    """release_worker_state drops the driver broadcast caches and the
    per-worker dictionary state, and the next calls rebuild them with
    identical results."""
    before = _rows(*_plans(spark, small_dict))
    assert neighborhood._IDX_CACHE

    release_worker_state(spark)
    assert not neighborhood._IDX_CACHE
    assert not compound._BIGRAM_CACHE
    # every reused worker's module caches are gone (probe the pool the
    # same way the release fanned out; nothing ran in between, so a
    # hit on any worker would be leaked state)
    n = spark.sparkContext.defaultParallelism * 4
    sizes = (
        spark.sparkContext.parallelize(range(n), n)
        .map(
            lambda _: (
                len(neighborhood._WORKER_RESOLVERS),
                len(compound._WORKER_SPLIT_STATE),
            )
        )
        .collect()
    )
    assert all(s == (0, 0) for s in sizes), sizes

    assert _rows(*_plans(spark, small_dict)) == before


def test_release_keeps_outstanding_plans_executable(spark, small_dict):
    """A DataFrame plan built BEFORE release_worker_state still executes
    AFTER it: release unpersists — never destroys — the cached
    broadcasts, so a stale plan lazily re-ships them instead of failing
    with a destroyed-broadcast error."""
    expect = _rows(*_plans(spark, small_dict))  # also warms the caches

    stale = _plans(spark, small_dict)
    release_worker_state(spark)
    assert _rows(*stale) == expect
