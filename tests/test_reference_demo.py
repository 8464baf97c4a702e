"""Golden parity with the reference demo (SURVEY.md §5.1).

The reference ships exactly one end-to-end "query": ``run_demo.sh`` runs
word count (map/reduce semantics ``mr/word_count.h:16-38``, tokenizer
``mr/word_count.h:22-31`` — maximal ASCII-alpha runs, case-sensitive)
over the 8 Project Gutenberg books in ``demo/in/pg-*.txt``.  SURVEY §5.1
pins the golden output: 623,948 total tokens, 22,107 distinct words, top
word ``the`` × 29,748.  These tests assert those numbers through BOTH
engine paths (the declarative ``word_count`` plan and the Python
``map_reduce`` UDF contract), plus the reference's M = #files property
(``src/master.cc:299``): the result must be invariant to how the input
is split into map tasks.

The books are not part of this repo: without them the golden tests skip,
and a small in-repo fixture (``tests/data/wordcount``) drives the same
two paths against counts computed here with ``re.findall``.
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.mr import map_reduce
from mapreduceplusplus_spark.operators.scans import word_count
from mapreduceplusplus_spark.sources.tables import load_table, load_whole_text_files
from tests.conftest import SF_DIR

DEMO_GLOB = "/root/reference/demo/in/pg-*.txt"
GOLDEN_FILES = 8
GOLDEN_TOTAL_TOKENS = 623_948
GOLDEN_DISTINCT_WORDS = 22_107
GOLDEN_THE_COUNT = 29_748
LOCAL_GLOB = os.path.join(os.path.dirname(__file__), "data", "wordcount", "*.txt")

def _make_fns():
    """The reference tokenizer (``mr/word_count.h:22-31``) in Python for
    the map-UDF path: maximal runs of ASCII letters, case-sensitive.
    Built as CLOSURES (not module-level functions) so cloudpickle ships
    them by value — Python workers cannot import this test module."""
    token = re.compile(r"[A-Za-z]+")

    def wc_map(row):
        for w in token.findall(row["content"]):
            yield (w, 1)

    def sum_reduce(key, values):
        return sum(values)

    return wc_map, sum_reduce


@pytest.fixture(scope="module")
def demo_books(spark):
    if not glob.glob(DEMO_GLOB):
        pytest.skip(f"reference demo corpus absent: {DEMO_GLOB} matches no file")
    df = load_whole_text_files(spark, DEMO_GLOB).cache()
    assert df.count() == GOLDEN_FILES
    return df


def _assert_golden(wc_rows):
    counts = {r[0]: r[1] for r in wc_rows}
    assert sum(counts.values()) == GOLDEN_TOTAL_TOKENS
    assert len(counts) == GOLDEN_DISTINCT_WORDS
    assert counts["the"] == GOLDEN_THE_COUNT
    assert max(counts.items(), key=lambda kv: kv[1])[0] == "the"


def test_wordcount_golden_declarative(spark, demo_books):
    """The Catalyst plan (explode + regexp + hash-agg) reproduces the
    reference demo's output exactly."""
    wc = word_count(demo_books, "content")
    _assert_golden([(r.word, r.cnt) for r in wc.collect()])


def test_wordcount_golden_mr_pipeline(spark, demo_books):
    """The full reference job semantics — Python map generator, R-way
    hash shuffle (R=3, as ``run_demo.sh:10-12``), Python fold reduce —
    reproduce the same golden numbers, and land in exactly R output
    partitions like the reference's ``reduce_out_<r>.mr`` files."""
    wc_map, sum_reduce = _make_fns()
    out = map_reduce(
        demo_books,
        wc_map,
        sum_reduce,
        num_partitions=3,
        combine_fn=sum_reduce,
    )
    assert out.rdd.getNumPartitions() == 3
    _assert_golden([(r.key, r.value) for r in out.collect()])


@pytest.fixture(scope="module")
def local_books(spark):
    """The in-repo fixture and its expected counts, computed without
    Spark: the reference tokenizer as ``re.findall`` plus ``Counter``."""
    paths = sorted(glob.glob(LOCAL_GLOB))
    assert len(paths) == 3
    expected: Counter[str] = Counter()
    for path in paths:
        with open(path, encoding="utf-8") as f:
            expected.update(re.findall(r"[A-Za-z]+", f.read()))
    return load_whole_text_files(spark, LOCAL_GLOB), dict(expected)


def test_wordcount_local_declarative(spark, local_books):
    books, expected = local_books
    wc = word_count(books, "content")
    assert {r.word: r.cnt for r in wc.collect()} == expected


def test_wordcount_local_mr_pipeline(spark, local_books):
    """``map_reduce`` with R=3 and the combiner, as in the golden test."""
    books, expected = local_books
    wc_map, sum_reduce = _make_fns()
    out = map_reduce(
        books, wc_map, sum_reduce, num_partitions=3, combine_fn=sum_reduce
    )
    assert out.rdd.getNumPartitions() == 3
    assert {r.key: r.value for r in out.collect()} == expected


def test_wordcount_split_invariance(spark, demo_books):
    """The reference pins M = #input files (``src/master.cc:299``); our
    engine must produce the identical result for ANY input split — the
    declarative plan re-partitioned 1-way and 13-way."""
    base = sorted((r.word, r.cnt) for r in word_count(demo_books, "content").collect())
    for n in (1, 13):
        again = sorted(
            (r.word, r.cnt)
            for r in word_count(demo_books.repartition(n), "content").collect()
        )
        assert again == base


def test_mr_split_and_r_invariance(spark):
    """``map_reduce`` output is invariant to both the input split count
    (the M knob) and the reduce partition count (the R knob,
    ``MR_REDUCE_NUM_TASKS``) — on the documents fixture, with and
    without the map-side combiner."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.col("text").alias("content"))
        .cache()
    )
    wc_map, sum_reduce = _make_fns()
    results = []
    for n_in, r, combine in ((1, 2, None), (7, 5, sum_reduce), (3, 3, sum_reduce)):
        out = map_reduce(
            docs.repartition(n_in),
            wc_map,
            sum_reduce,
            num_partitions=r,
            combine_fn=combine,
        )
        assert out.rdd.getNumPartitions() == r
        results.append(sorted((row.key, row.value) for row in out.collect()))
    assert results[0] == results[1] == results[2]
    docs.unpersist()


def test_mr_combiner_runs_in_the_map_pass(spark):
    """The combiner runs inside the map pass's ``mapInPandas``: one
    Python runner for map + combine, one for the reduce fold."""
    df = registry.queries()["mr_pipeline_api"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan
