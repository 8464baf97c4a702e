"""Per-operator edge cases and algebraic properties (SURVEY.md §5.3-4).

Edge cases: empty input, all-null columns, duplicate join keys, window
ties.  Properties: aggregation invariance under repartitioning (the
partial-aggregation / combiner contract), and the dedup df-cap
invariance the module promises (``llm/dedup.py``).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.llm.dedup import dedup_ngram_jaccard, shingles
from mapreduceplusplus_spark.operators.scans import word_count
from mapreduceplusplus_spark.sources.tables import load_table
from tests.conftest import SF_DIR, SF_DIR_ORACLE

registry.load_all()


# ---------------------------------------------------------------- empty input


def test_wordcount_empty_input(spark):
    empty = spark.createDataFrame([], "text string")
    assert word_count(empty, "text").count() == 0


def test_agg_on_empty_group(spark):
    empty = spark.createDataFrame([], "k string, v double")
    # global agg over zero rows: count 0, sum/avg NULL (SQL semantics)
    row = empty.agg(
        F.count("*").alias("n"), F.sum("v").alias("s"), F.avg("v").alias("a")
    ).collect()[0]
    assert (row.n, row.s, row.a) == (0, None, None)
    # grouped agg over zero rows: zero groups, not one NULL group
    assert empty.groupBy("k").agg(F.sum("v")).count() == 0


def test_join_empty_sides(spark):
    left = spark.createDataFrame([Row(k=1, a="x")])
    empty = spark.createDataFrame([], "k bigint, b string")
    assert left.join(empty, "k").count() == 0
    assert left.join(empty, "k", "left").count() == 1
    assert left.join(empty, "k", "left_anti").count() == 1
    assert empty.join(left, "k", "left_semi").count() == 0


def test_shingles_short_and_empty_docs(spark):
    """Documents shorter than the shingle width yield an EMPTY set (the
    sequence() guard in shingles()), never garbage shingles."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text=""), Row(doc_id=3, text="a b c d")]
    )
    out = {r.doc_id: r.sh for r in df.select("doc_id", shingles(F.col("text")).alias("sh")).collect()}
    assert out[1] == []
    assert out[2] == []
    assert out[3] == ["a b c", "b c d"]


# ------------------------------------------------------------------ all-null


def test_agg_all_null_column(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=None), Row(k="a", v=None), Row(k="b", v=1.5)],
        "k string, v double",
    )
    rows = {
        r.k: r
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("v").alias("n_vals"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
        )
        .collect()
    }
    # nulls are counted by count(*), ignored by count(col)/sum/min
    assert (rows["a"].n_rows, rows["a"].n_vals, rows["a"].s, rows["a"].mn) == (2, 0, None, None)
    assert (rows["b"].n_vals, rows["b"].s) == (1, 1.5)


def test_join_null_keys_never_match(spark):
    df1 = spark.createDataFrame([Row(k=None, a=1), Row(k=5, a=2)], "k bigint, a bigint")
    df2 = spark.createDataFrame([Row(k=None, b=3), Row(k=5, b=4)], "k bigint, b bigint")
    # SQL equality: NULL = NULL is unknown -> inner join drops null keys
    assert df1.join(df2, df1.k == df2.k).count() == 1
    # null-safe equality keeps them
    assert df1.join(df2, df1.k.eqNullSafe(df2.k)).count() == 2


# --------------------------------------------------------- duplicate join keys


def test_join_duplicate_keys_multiplicity(spark):
    """m×n duplicate keys produce m·n joined rows — the cartesian
    within each key group, the classic join fan-out hazard."""
    left = spark.createDataFrame([Row(k=1, a=i) for i in range(3)])
    right = spark.createDataFrame([Row(k=1, b=j) for j in range(4)])
    assert left.join(right, "k").count() == 12
    # semi/anti are NOT multiplied: existence semantics
    assert left.join(right, "k", "left_semi").count() == 3
    assert left.join(right, "k", "left_anti").count() == 0


# -------------------------------------------------------------- window ties


def test_window_tie_semantics(spark):
    """rank leaves gaps after ties, dense_rank doesn't, row_number is
    arbitrary-but-unique within the tie; a unique tiebreaker makes
    row_number deterministic."""
    df = spark.createDataFrame(
        [Row(g="x", v=10, id=1), Row(g="x", v=10, id=2), Row(g="x", v=5, id=3)]
    )
    w = Window.partitionBy("g").orderBy(F.col("v").desc())
    out = df.select(
        "id",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.row_number().over(Window.partitionBy("g").orderBy(F.col("v").desc(), "id")).alias("rn"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert (by_id[1].rk, by_id[2].rk, by_id[3].rk) == (1, 1, 3)
    assert (by_id[1].drk, by_id[2].drk, by_id[3].drk) == (1, 1, 2)
    assert (by_id[1].rn, by_id[2].rn, by_id[3].rn) == (1, 2, 3)


# ------------------------------------------------------------- properties


@pytest.mark.parametrize("n_parts", [1, 3, 32])
def test_sum_invariant_under_repartitioning(spark, n_parts):
    """Partial aggregation must commute with the partitioning: the
    grouped sums are identical however the input is split (l_quantity
    is integral-valued, so float accumulation order cannot bite)."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    base = sorted(
        (r.l_returnflag, r.s)
        for r in li.groupBy("l_returnflag").agg(F.sum("q").alias("s")).collect()
    )
    again = sorted(
        (r.l_returnflag, r.s)
        for r in li.repartition(n_parts)
        .groupBy("l_returnflag")
        .agg(F.sum("q").alias("s"))
        .collect()
    )
    assert again == base


def test_dedup_prefix_invariance(spark):
    """The prefix + position filters prune candidate generation only
    (they are provably lossless); the result set must be IDENTICAL
    with the filters active vs the brute-force full inverted index.
    Guard that the prefix actually drops postings on this corpus, so
    the pruned path is exercised."""
    sh = (
        load_table(spark, SF_DIR_ORACLE, "documents")
        .select(F.size(shingles(F.col("text"))).alias("n"))
        .where(F.col("n") > 0)
    )
    assert sh.agg(F.min("n")).collect()[0][0] > 2, "prefix would be a no-op (all docs tiny)"

    def pairs(df):
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())

    filtered = pairs(dedup_ngram_jaccard(spark, SF_DIR_ORACLE, prefix=True))
    brute = pairs(dedup_ngram_jaccard(spark, SF_DIR_ORACLE, prefix=False))
    assert len(filtered) > 0
    assert filtered == brute


def test_containment_prefix_invariance(spark):
    """Round-7 twin of the jaccard pin for the ASYMMETRIC threshold:
    the a-side-only prefix filter in ``dedup_containment_quotes`` is
    provably lossless (containment ≥ t needs overlap ≥ ceil(t·n_a),
    which must touch a's rarest ``n_a − ceil(t·n_a) + 1`` shingles
    when the host posts everything) — the ordered pair set must be
    IDENTICAL with the prefix active vs the brute-force index."""
    from mapreduceplusplus_spark.llm.dedup import dedup_containment_quotes

    def pairs(df):
        return sorted(
            (r.doc_a, r.doc_b, r.containment) for r in df.collect()
        )

    filtered = pairs(dedup_containment_quotes(spark, SF_DIR_ORACLE, prefix=True))
    brute = pairs(dedup_containment_quotes(spark, SF_DIR_ORACLE, prefix=False))
    assert len(filtered) > 0
    assert filtered == brute


def test_sort_global_rank_is_true_global_rank(spark):
    """The two-pass distributed rank must equal the naive single-window
    global row_number (checked on the small fixture, where the naive
    form is affordable)."""
    qs = registry.queries()
    two_pass = {
        r.o_orderkey: r.sort_rank for r in qs["sort_global"](spark, SF_DIR).collect()
    }
    orders = load_table(spark, SF_DIR, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    naive = {
        r.o_orderkey: r.rn
        for r in orders.select(
            "o_orderkey", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
    }
    assert two_pass == naive


def test_asof_join_null_payload_is_row_atomic(spark):
    """A right row whose payload column is legitimately NULL must win
    as-of AS A ROW: the NULL stays NULL in the output instead of being
    back-filled from an older right row (per-column carry would mix
    rows).  Also exercises internal-name collision: the left side owns
    columns named _asof_ts/_asof_side/_asof_r."""
    from mapreduceplusplus_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [Row(k="a", ts=10, _asof_ts="x", _asof_side="y", _asof_r="z")]
    )
    right = spark.createDataFrame(
        [Row(k="a", rts=1, v="old", w=100), Row(k="a", rts=5, v=None, w=200)],
        "k string, rts int, v string, w int",
    )
    out = as_of_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        right_cols={"v_out": "v", "w_out": "w"},
    ).collect()
    assert len(out) == 1
    r = out[0]
    # the ts=5 right row wins atomically: v stays NULL, w is 200
    assert r.v_out is None and r.w_out == 200
    # user columns that collide with would-be internal names survive
    assert (r._asof_ts, r._asof_side, r._asof_r) == ("x", "y", "z")


def test_asof_join_no_earlier_right_row(spark):
    """Left rows older than every right row NULL-extend (left as-of)."""
    from mapreduceplusplus_spark.operators.asof import as_of_join

    left = spark.createDataFrame([Row(k="a", ts=1), Row(k="b", ts=9)])
    right = spark.createDataFrame([Row(k="a", rts=5, v="late")])
    out = {r.k: r.v_out for r in as_of_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        right_cols={"v_out": "v"},
    ).collect()}
    assert out == {"a": None, "b": None}


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed by the join key ⇒ the sort-merge join must
    plan with ZERO Exchange operators — the co-location contract that
    makes bucketing pay at scale."""
    import shutil as _sh
    import tempfile as _tf

    from mapreduceplusplus_spark.operators.joins import bucketed_join

    base = _tf.mkdtemp(prefix="bucketed_join_test_")
    try:
        j = bucketed_join(spark, SF_DIR_ORACLE, base)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, f"unexpected shuffle:\n{plan}"
        # and it is not silently empty
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_orders")
        spark.sql("DROP TABLE IF EXISTS bj_customer")
        _sh.rmtree(base, ignore_errors=True)


def test_partitioned_write_prunes(spark):
    """A filter on the partition column must reach the scan as
    partition pruning: only the matching lang= directories' files are
    read."""
    import tempfile as _tf
    import shutil as _sh

    from mapreduceplusplus_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "lang")
    out = _tf.mkdtemp(prefix="prune_test_")
    try:
        docs.write.mode("overwrite").partitionBy("lang").parquet(out)
        all_langs = spark.read.parquet(out)
        pruned = all_langs.where(F.col("lang") == "en")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # the lang filter must appear as a PARTITION filter on the scan
        # (planning-time directory pruning), not as a data filter
        assert "PartitionFilters" in plan
        import re

        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
        assert "lang" in pf and "en" in pf, pf
        # and the pruned branch reads fewer rows than the full table
        assert pruned.count() < all_langs.count()
    finally:
        _sh.rmtree(out, ignore_errors=True)


def test_hll_sketch_merge_accuracy(spark):
    """The unioned-sketch estimate must be within HLL error (~2% at
    default lgK=12, take 5%) of the TRUE global distinct count — and
    must NOT equal the sum of monthly exacts (users active in several
    months would be double-counted; the sketch union deduplicates)."""
    qs = registry.queries()
    row = qs["agg_hll_sketch_merge"](spark, SF_DIR_ORACLE).collect()[0]
    truth = (
        load_table(spark, SF_DIR_ORACLE, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    # r14 contract: the exact total is a COLUMN now and the sketch
    # estimate is asserted through the within-tolerance boolean
    assert row.exact_total_users == truth
    assert row.est_within_tol is True
    if row.n_months > 1:
        assert row.sum_monthly_exact >= truth  # overlap double-counts


def test_approx_quantile_within_bound(spark):
    """percentile_approx at accuracy=10000 (ε=1e-4) must land within
    rank-error ε·n of the exact percentile.  The r14 contract computes
    the rank check INSIDE the query (the `*_rank_ok` booleans the
    oracle pins to TRUE); this test independently recomputes one
    group's p50 rank window driver-side so the in-query arithmetic is
    not self-certifying."""
    qs = registry.queries()
    rows = qs["agg_approx_quantile"](spark, SF_DIR_ORACLE).collect()
    assert rows and all(
        r.p50_rank_ok and r.p95_rank_ok and r.p99_rank_ok for r in rows
    ), rows
    li = load_table(spark, SF_DIR_ORACLE, "lineitem")
    flag = rows[0].l_returnflag
    vals = sorted(
        r.l_extendedprice
        for r in li.where(F.col("l_returnflag") == flag).collect()
    )
    n = len(vals)
    assert n == rows[0].n
    got = li.where(F.col("l_returnflag") == flag).agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000)
    ).collect()[0][0]
    lo = vals[max(0, int(0.5 * n - 1e-4 * n - 2))]
    hi = vals[min(n - 1, int(0.5 * n + 1e-4 * n + 2))]
    assert lo - 0.01 <= got <= hi + 0.01, (flag, got, lo, hi)


def test_repetition_filter_has_no_shuffle(spark):
    """The repetition quality gate must stay a narrow projection —
    zero Exchange operators (the explode→groupBy alternative would
    shuffle |corpus tokens| rows at scale)."""
    df = registry.queries()["text_repetition_filter"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"unexpected shuffle:\n{plan}"


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the Q17-shape correlated scalar subquery
    into an aggregate+join (linear plan), not leave a per-row subquery
    in the optimized plan."""
    df = registry.queries()["subquery_correlated"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in plan.lower(), plan
    assert "Join" in plan and "Aggregate" in plan


def test_full_outer_join_plans_shuffled(spark):
    """A full outer join cannot broadcast either side — the physical
    plan must be a shuffled SMJ/SHJ with FullOuter join type."""
    df = registry.queries()["join_full_outer"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_knn_join_uses_window_group_limit(spark):
    """The batched k-NN join must plan (a) a broadcast of the probe
    side — the corpus never shuffles for the join — and (b) a
    WindowGroupLimit so each task keeps ≤ k rows per probe BEFORE the
    exchange, never the |corpus|×|probes| cross product."""
    df = registry.queries()["sim_search_knn_join"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_decontaminate_drops_contaminated_docs(spark):
    """Decontamination must remove every training doc whose bag
    fingerprint appears in the eval slice — and at sf0.01 the fixture
    really contains such collisions (the filter does work)."""
    from mapreduceplusplus_spark.llm.dedup import EVAL_MOD

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    n_train = docs.where(F.col("doc_id") % EVAL_MOD != 0).count()
    kept = registry.queries()["dedup_decontaminate"](spark, SF_DIR_ORACLE)
    n_kept = kept.count()
    assert 0 < n_kept < n_train  # some contaminated docs were dropped
    # no eval doc leaks into the output
    assert kept.where(F.col("doc_id") % EVAL_MOD == 0).count() == 0


def test_e2e_pipeline_shuffle_budget(spark):
    """pipeline_corpus_end2end promises one full-data shuffle plus a
    fingerprint-sized micro-shuffle: the physical plan must stay
    within 3 Exchanges (window + eval-distinct + post-window
    bookkeeping), broadcast the eval anti-join, and never re-scan per
    stage."""
    df = registry.queries()["pipeline_corpus_end2end"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 3, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_merge_upsert_single_join(spark):
    """merge_upsert must plan exactly ONE FullOuter join of target and
    change set — no per-action re-scans of the target."""
    df = registry.queries()["merge_upsert"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan
    import re
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)) == 1, plan


def test_ngram_prefix_shrinks_postings(spark):
    """The prefix filter must index strictly fewer postings than the
    full inverted index (~20% + 1 per doc at t = 0.8) — the structural
    skew/scale defense the docstring promises."""
    from mapreduceplusplus_spark.llm.dedup import _doc_shingles
    from pyspark.sql import functions as F2

    docs = _doc_shingles(spark, SF_DIR_ORACLE)
    stats = docs.select(
        F2.sum(F2.size("sh")).alias("full"),
        F2.sum(
            F2.size("sh") - F2.expr("(4*size(sh) + 4) div 5") + 1
        ).alias("prefix"),
    ).collect()[0]
    assert stats.prefix < 0.35 * stats.full, (stats.prefix, stats.full)


def test_aqe_skew_join_splits_and_agrees(spark):
    """VERDICT r5 stretch: AQE skew-join splitting, demonstrated and
    result-pinned.  A planted hot key (50% of a 120k-row fact side on
    key 1) is joined under AQE with aggressive skew thresholds; the
    test asserts (a) the executed plan really split the skewed
    partition (``skew=true`` on the join node), (b) the AQE result, the
    manually salted join, and a plain no-AQE join all agree exactly —
    the two skew defenses are result-invariant, and AQE is the zero-
    code-change backstop the 100 TB design leans on for moderate skew."""
    from mapreduceplusplus_spark.operators.joins import salted_join

    def skewed_inputs(s):
        facts = s.range(120000).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, F.lit(1))
            .otherwise(F.pmod("id", 1000))
            .alias("k"),
            (F.col("id") * 3 % 997).alias("v"),
        )
        dims = s.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("label")
        )
        return facts, dims

    def agg(j):
        return {
            r.label: (r.n, r.sv)
            for r in j.groupBy("label")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .collect()
        }

    # AQE session with thresholds small enough for fixture-scale bytes
    s_aqe = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }.items():
        s_aqe.conf.set(k, v)
    facts, dims = skewed_inputs(s_aqe)
    j_aqe = facts.join(dims.hint("merge"), "k", "inner").groupBy("label").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    aqe_rows = {r.label: (r.n, r.sv) for r in j_aqe.collect()}
    plan = j_aqe._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, f"AQE did not split the skewed partition:\n{plan[:2000]}"

    # plain no-AQE baseline
    s_plain = spark.newSession()
    s_plain.conf.set("spark.sql.adaptive.enabled", "false")
    s_plain.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    facts_p, dims_p = skewed_inputs(s_plain)
    plain_rows = agg(facts_p.join(dims_p, "k", "inner"))

    # manually salted join on the same plain session
    salted_rows = agg(
        salted_join(facts_p, dims_p, "k", "k", unique_col="id").drop(dims_p["k"])
    )

    assert aqe_rows == plain_rows == salted_rows
    assert sum(n for n, _ in plain_rows.values()) == 120000


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_new_ops_plan_shapes(spark):
    """Plan pins for the round-6 operators' scale claims — the claims
    in the docstrings are enforced, not aspirational:
    - range lookup: broadcast nested loop (map-side scan), no exchange
      of the fact side before the join;
    - market basket: shuffled-hash self-join (no sort-merge sorts);
    - per-group hash sample: WindowGroupLimit prunes before exchange;
    - sessionize: exactly ONE hash exchange (both windows + rollup
      share the user_id partitioning);
    - Q3: the date filters reach the parquet scans as PushedFilters."""
    import re

    qs = registry.queries()

    p = _plan(qs["join_broadcast_range_lookup"](spark, SF_DIR_ORACLE))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "Exchange hashpartitioning" not in p.split("BroadcastNestedLoopJoin")[1], (
        "fact side shuffled before the broadcast join"
    )

    p = _plan(qs["join_market_basket"](spark, SF_DIR_ORACLE))
    assert "ShuffledHashJoin" in p, p

    p = _plan(qs["sample_per_group_topk_hash"](spark, SF_DIR_ORACLE))
    assert "WindowGroupLimit" in p, p

    p = _plan(qs["window_sessionize"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p

    p = _plan(qs["tpch_q3_shipping"](spark, SF_DIR_ORACLE))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("l_shipdate" in s and "GreaterThan" in s for s in pushed), pushed
    assert any("o_orderdate" in s and "LessThan" in s for s in pushed), pushed


def test_round6_session2_plan_shapes(spark):
    """Plan pins for the second round-6 batch:
    - DPP: the partitioned fact scan carries a dynamicpruningexpression
      PartitionFilter (runtime pruning from the dim side), not just a
      static IN-list;
    - bitmap prefilter: BOTH the bucket join and the exact semi join
      broadcast — the fact side reaches the aggregation without a
      single pre-join shuffle;
    - recursive CTE: the loop executes (UnionLoop/Recursion node) and the
      fact table is NOT inside the recursion (it aggregates once).
    """
    qs = registry.queries()

    # DPP — build the same fact layout the query builds and pin the
    # pruning expression on the pre-collect plan (the registered query
    # collects eagerly to clean its temp dir, so probe the join shape
    # directly here)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR_ORACLE}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
    )
    dim = spark.createDataFrame(
        [("1996-01", "1996-Q1"), ("1996-02", "1996-Q1")],
        "d_month string, d_quarter string",
    ).where(F.col("d_quarter") == "1996-Q1")
    out = tempfile.mkdtemp(prefix="dpp_pin_")
    try:
        orders.write.mode("overwrite").partitionBy("o_month").parquet(out)
        fact = spark.read.parquet(out)
        j = fact.join(F.broadcast(dim), fact["o_month"] == dim["d_month"])
        p = _plan(j)
        assert "dynamicpruningexpression" in p.lower(), p
    finally:
        shutil.rmtree(out, ignore_errors=True)

    # bitmap prefilter — two broadcast joins, fact never exchanges
    # before the final aggregation's own shuffle
    p = _plan(qs["join_prefilter_bitmap"](spark, SF_DIR_ORACLE))
    assert p.count("BroadcastHashJoin") == 2, p
    pre_agg = p.split("HashAggregate")[-1]  # below the partial agg
    assert "Exchange hashpartitioning" not in pre_agg, (
        "fact side shuffled before the prefilter joins"
    )

    # recursive CTE executes as a loop over the bounds, not the fact
    p = _plan(qs["sql_recursive_cte"](spark, SF_DIR_ORACLE))
    assert "UnionLoop" in p or "Recursion" in p, p


def test_zorder_buckets_are_2d_tiles(spark):
    """The Z-order claim made concrete: grouping by the top-4 Morton
    bits must bound EVERY bucket's envelope to ≤ 64 of 256 normalized
    units on BOTH axes simultaneously — i.e. the layout clusters in
    two dimensions at once, which no single-column sort achieves."""
    rows = registry.queries()["layout_zorder"](spark, SF_DIR_ORACLE).collect()
    assert rows, "no z-buckets produced"
    for r in rows:
        assert r.max_x - r.min_x <= 63, r
        assert r.max_y - r.min_y <= 63, r


def test_morton16_is_a_bijection():
    """The Z-order formula is pure dialect-intersection SQL text; prove
    its semantics directly: over the full 256×256 domain the interleave
    is a bijection onto 0..65535 (no collisions, no out-of-range), and
    the inverse de-interleave recovers (x, y) — checked in DuckDB, the
    same engine the oracle runs on."""
    import duckdb

    from mapreduceplusplus_spark.operators.maintenance import _morton16

    expr = _morton16("x", "y")
    con = duckdb.connect()
    n, mn, mx = con.execute(
        f"""
        SELECT count(DISTINCT z), min(z), max(z) FROM (
          SELECT {expr} AS z
          FROM (SELECT unnest(generate_series(0, 255)) AS x),
               (SELECT unnest(generate_series(0, 255)) AS y))
        """
    ).fetchone()
    assert (n, mn, mx) == (65536, 0, 65535)
    # spot-check the inverse on a diagonal slice: extracting the even
    # bits gives back x, the odd bits y
    bad = con.execute(
        f"""
        WITH z AS (
          SELECT x, y, {expr} AS z
          FROM (SELECT unnest(generate_series(0, 255)) AS x),
               (SELECT unnest(generate_series(0, 255)) AS y)
          WHERE (x + y) % 17 = 0
        )
        SELECT count(*) FROM z WHERE
          {" + ".join(f"(CAST(floor(z / {1 << (2 * i)}) AS BIGINT) % 2) * {1 << i}" for i in range(8))} != x
          OR {" + ".join(f"(CAST(floor(z / {1 << (2 * i + 1)}) AS BIGINT) % 2) * {1 << i}" for i in range(8))} != y
        """
    ).fetchone()[0]
    assert bad == 0
    con.close()


def test_compaction_plan_bins_are_wellformed(spark):
    """Next-fit binning invariants on the real output: per (source,
    bin) the packed total never exceeds target + that bin's largest
    item (one straddling item is the next-fit guarantee), and bin ids
    are contiguous from 1 within every source."""
    from collections import defaultdict

    from mapreduceplusplus_spark.operators.maintenance import _COMPACT_TARGET

    rows = registry.queries()["maintenance_compaction_plan"](
        spark, SF_DIR_ORACLE
    ).collect()
    assert rows
    per_bin = defaultdict(list)
    for r in rows:
        per_bin[(r.source, r.bin_id)].append(r.n_chars)
    for (src, b), sizes in per_bin.items():
        assert sum(sizes) <= _COMPACT_TARGET + max(sizes), (src, b, sizes)
    by_src = defaultdict(set)
    for src, b in per_bin:
        by_src[src].add(b)
    for src, bins in by_src.items():
        assert bins == set(range(1, len(bins) + 1)), (src, bins)


def test_iterative_ops_plan_shapes(spark):
    """Scale pins for the iterative operators:
    - k-means: the per-iteration distance join must BROADCAST the
      centroid side (k·d = 256 rows), never shuffle the exploded
      vectors for it;
    - PageRank: each iteration starts from a checkpointed rank vector,
      so the final plan contains NO parquet scan at all (lineage was
      truncated at the last iteration) and exactly one aggregate for
      the final top-k."""
    qs = registry.queries()

    p = _plan(qs["ml_kmeans_lloyd"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p, p

    p = _plan(qs["graph_pagerank"](spark, SF_DIR_ORACLE))
    assert "Scan parquet" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_kmeans_packed_argmin_equals_struct_argmin(spark):
    """The k-means argmin packs (dist, cid) into one BIGINT
    (min(dist·_K + cid)); the packed order must equal the lexicographic
    (dist ASC, cid ASC) order on the real corpus distances, exact ties
    included."""
    from mapreduceplusplus_spark.operators import ml as M

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "u")
    ).select(
        "vec_id",
        "dim",
        (
            F.round(F.lit(1000000) * F.col("u").cast("double")).cast("bigint")
            + M._SHIFT
        ).alias("q"),
    )
    c0 = e.where(F.col("vec_id") < M._K).select(
        F.col("vec_id").alias("cid"), "dim", F.col("q").alias("c")
    )
    d = (
        e.join(F.broadcast(c0), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
            .cast("bigint")
            .alias("dist")
        )
    )
    packed = d.groupBy("vec_id").agg(
        F.min(F.col("dist") * M._K + F.col("cid")).alias("m")
    ).select(
        "vec_id",
        (F.col("m") % M._K).alias("cid"),
        F.expr(f"m div {M._K}").alias("dist"),
    )
    struct = d.groupBy("vec_id").agg(
        F.min(F.struct(F.col("dist"), F.col("cid").alias("cid"))).alias("b")
    ).select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, struct.collect()))
    assert a == b and a, "packed argmin diverged from lexicographic min"


def _final_plan(df):
    """Execute and return ONLY the AQE final-plan section (the plain
    ``executedPlan`` string of an executed AQE query contains both the
    Initial and Final sections — counting nodes across both doubles
    every count)."""
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    if "== Initial Plan ==" in p:
        p = p.split("== Initial Plan ==")[0]
    return p


def test_tpch_suite_plan_shapes(spark):
    """Plan pins for the round-6 TPC-H batch — each query's signature
    scale property, enforced at runtime (AQE final plan):
    - Q6: every predicate (date window, discount band, quantity cap)
      reaches the parquet scan as a PushedFilter — the whole query is
      scan + 2-phase agg, zero joins, zero wide exchanges besides the
      1-row final;
    - Q8: all seven dimension legs broadcast (deepest join tree in the
      suite) — exactly ONE hash exchange (the orders leg) and no
      sort-merge join;
    - Q15: the quarterly revenue rollup feeds both the max and the
      join leg from ONE computation — AQE exchange reuse, so the
      quarter of lineitem is scanned and shuffled once;
    - Q19: the OR-of-ANDs pushes the quantity hull into the lineitem
      scan (an Or(...) PushedFilter) instead of evaluating the whole
      disjunction post-join."""
    import re

    qs = registry.queries()

    p = _final_plan(qs["tpch_q6_forecast_revenue"](spark, SF_DIR_ORACLE))
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity)" in p
    ), p
    assert "Join" not in p, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 0, p

    p = _final_plan(qs["tpch_q8_market_share"](spark, SF_DIR_ORACLE))
    assert p.count("BroadcastHashJoin") == 7, p
    assert "SortMergeJoin" not in p, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1, p

    p = _final_plan(qs["tpch_q15_top_supplier"](spark, SF_DIR_ORACLE))
    assert "ReusedExchange" in p, p

    p = _final_plan(qs["tpch_q19_disjunctive_revenue"](spark, SF_DIR_ORACLE))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("Or(" in l for l in pushed), pushed


def test_packing_plan_shapes(spark):
    """Scale pins for the training-batch assembly operators:
    - corpus_shard_shuffle: exactly ONE exchange (the shard key); the
      rank window is hash-partitioned — never a global sort;
    - pack_bins_nextfit: token counts computed JVM-side (the regexp
      sits in a Project BELOW the exchange) and exactly one exchange
      feeds the per-shard Arrow fold;
    - pack_concat_chunks: the distributed prefix sum costs two hash
      exchanges (bucket census + in-bucket window) plus the
      bucket-table single-partition window — never a corpus-wide
      single-partition window."""
    import re

    qs = registry.queries()

    p = _final_plan(qs["corpus_shard_shuffle"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "Exchange SinglePartition" not in p, p

    p = _final_plan(qs["pack_bins_nextfit"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "FlatMapGroupsInPandas" in p, p
    # regexp evaluates below the exchange (JVM-side, pre-shuffle)
    below = p.split("Exchange hashpartitioning")[1]
    assert "regexp_extract_all" in below, p

    p = _final_plan(qs["pack_concat_chunks"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2, p
    # the only single-partition window runs over the bucket census —
    # its input must be the bucket rollup aggregate, not raw docs
    assert "Window" in p, p


def test_bp_ratio_no_overflow_at_scale(spark):
    """Regression for the 5x-replication finding: basis-point ratios
    over 1e-4-unit money sums overflow BIGINT once the denominator
    passes ~4.6e14 (20000x blow-up > 2^63).  The DECIMAL(38,0) form
    must return the exact half-up value at the magnitudes the 5x
    harness produced (~2.3e16) and far beyond."""
    from mapreduceplusplus_spark.operators.tpch import bp_ratio_halfup

    cases = [
        (22672353376562500, 22686860075406250),   # actual 5x sf0.1 sums
        (1, 3),
        (2, 3),
        (10**18, 4 * 10**18),                      # ~100 TB ballpark
        (0, 7),
        (5, 5),
    ]
    df = spark.createDataFrame(
        [(n, d) for n, d in cases], "tgt long, total long"
    ).select(bp_ratio_halfup("tgt", "total").alias("bp"), "tgt", "total")
    for r in df.collect():
        assert r.bp == (20000 * r.tgt + r.total) // (2 * r.total), r


def test_join_hint_merge_overrides_broadcast(spark):
    """/*+ MERGE(n) */ must force a sort-merge join on a 25-row dim
    Spark would otherwise auto-broadcast — the hint changes the HOW
    (plan pinned here) and not the WHAT (the DuckDB differential runs
    the same text, where the hint is a comment)."""
    qs = registry.queries()
    p = _final_plan(qs["sql_join_hint_merge"](spark, SF_DIR_ORACLE))
    assert "SortMergeJoin" in p, p
    assert "BroadcastHashJoin" not in p, p


def test_conf_for_scale_arithmetic():
    """The sizing recipe holds at the corners: 100 TB on 1000
    executors lands in sane ranges, tiny local inputs floor at
    cluster-occupancy parallelism, and the caps engage."""
    from mapreduceplusplus_spark.session import conf_for_scale

    big = conf_for_scale(100 << 40, executors=1000, cores_per_executor=32)
    # 100 TB / 200 MiB = 524288 -> capped at 200k
    assert big["spark.sql.shuffle.partitions"] == "200000"
    assert int(big["spark.sql.files.maxPartitionBytes"]) == 256 << 20
    # 128 GiB executors -> 1% > 256 MiB cap -> capped
    assert int(big["spark.sql.autoBroadcastJoinThreshold"]) == 256 << 20

    small = conf_for_scale(1 << 30, executors=1, cores_per_executor=32)
    # 1 GiB input: parallelism floor (2x cores), not bytes-derived
    assert small["spark.sql.shuffle.partitions"] == "64"

    mid = conf_for_scale(10 << 40, executors=100, cores_per_executor=16)
    # 10 TiB / 200 MiB = 52428 partitions > 2*1600 floor
    assert small != mid
    assert int(mid["spark.sql.shuffle.partitions"]) == (10 << 40) // (200 << 20)


def test_benford_deviation_planted_digits(spark, tmp_path):
    """Pin dq_benford_deviation's digit extraction and integer basis-
    point math on a planted orders fixture: leading digit comes from
    the CENTS integer (12.34 -> 1234 -> digit 1), non-positive amounts
    are excluded, and share_bp is the floor-divided share of the
    INCLUDED rows."""
    from mapreduceplusplus_spark import registry

    prices = [12.34, 1.00, 199.99,   # digit 1 (cents 1234, 100, 19999)
              25.50, 0.29,           # digit 2 (2550, 29)
              9.99,                  # digit 9 (999)
              0.0,                   # excluded: zero
              0.001]                 # excluded: rounds to 0 CENTS (a
                                     # digit of 0 would put 1/0 in log10)
    rows = [(i, float(p)) for i, p in enumerate(prices)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")

    got = {
        r.digit: r
        for r in registry.queries()["dq_benford_deviation"](spark, sf_dir).collect()
    }
    assert set(got) == {1, 2, 9}
    assert got[1].n == 3 and got[2].n == 2 and got[9].n == 1
    assert got[1].share_bp == 3 * 10000 // 6      # 6 included rows
    # (the 0.001 row must NOT be counted in the denominator either)
    assert got[9].benford_bp == 457               # floor(log10(10/9)*1e4)
    assert got[9].dev_bp == got[9].share_bp - 457


def test_attribution_strictly_before_and_none_bucket(spark, tmp_path):
    """Pin events_attribution_last_touch's two edges on a planted
    events fixture: (1) a touch sharing the purchase's TIMESTAMP but
    with a lower event_id attributes (ties totally ordered by
    (ts, event_id)) while the purchase itself never self-attributes,
    and (2) a user's first-ever event being a purchase lands in the
    'none' bucket instead of vanishing."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click at t0, purchase at the SAME ts (higher id)
        (1, t0, 1, "click", 0.0, None),
        (2, t0, 1, "purchase", 10.0, None),
        # user 1: later purchase -> still last-touch 'click'
        (3, t0 + dt.timedelta(minutes=5), 1, "purchase", 5.0, None),
        # user 2: purchase with no prior touch -> 'none'
        (4, t0, 2, "purchase", 7.0, None),
        # user 2: touch AFTER the purchase must not attribute backwards
        (5, t0 + dt.timedelta(minutes=1), 2, "view", 0.0, None),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        r.channel: r
        for r in registry.queries()["events_attribution_last_touch"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == {"click", "none"}
    assert got["click"].n_conversions == 2          # same-ts + later purchase
    assert got["click"].revenue_cents == 1500
    assert got["none"].n_conversions == 1           # no prior touch
    assert got["none"].revenue_cents == 700


def test_linear_attribution_matches_python_replay(spark):
    """Independent-model pin for events_attribution_linear: the oracle
    deliberately shares the two-window formulation (dialect parity),
    so this test replays the REAL sf0.001 events table through a
    literal per-user Python loop — each purchase splits conv_micro //
    n_prior_touches across every strictly-preceding touch, remainders
    unassigned, orphans to 'none' — and the rollup must match exactly."""
    from tests.conftest import SF_DIR

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.sources.tables import load_table

    ev = sorted(
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    credit: dict[str, int] = {}
    credited_rows: dict[str, set] = {}
    cur_user, touches = None, []
    for r in ev:
        if r.user_id != cur_user:
            cur_user, touches = r.user_id, []
        if r.event_type == "purchase":
            micro = int(round(r.value * 100)) * 10000
            if not touches:
                credit["none"] = credit.get("none", 0) + micro
                credited_rows.setdefault("none", set()).add(r.event_id)
            else:
                share = micro // len(touches)
                for t in touches:
                    credit[t.event_type] = credit.get(t.event_type, 0) + share
                    credited_rows.setdefault(t.event_type, set()).add(
                        t.event_id
                    )
        else:
            touches.append(r)

    got = {
        r.channel: (r.n_credited_rows, r.credited_micro)
        for r in registry.queries()["events_attribution_linear"](
            spark, SF_DIR
        ).collect()
    }
    expect = {
        ch: (len(credited_rows[ch]), credit[ch]) for ch in credit
    }
    assert got == expect


def test_ks_test_extremes_on_planted_fixture(spark, tmp_path):
    """Pin events_ab_ks_test's analytic extremes: (1) DISJOINT arm
    distributions (arm 0 all below, arm 1 all above) → KS = 1.0 =
    1,000,000 ppm, achieved at the highest arm-0 value; (2) IDENTICAL
    arm distributions → KS = 0."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 1, 1)

    def _write(rows, d):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    # arm 0 = even user ids (values 1.00, 2.00), arm 1 = odd (3.00, 4.00)
    disjoint = [
        (1, t0, 2, "view", 1.0, None),
        (2, t0, 4, "view", 2.0, None),
        (3, t0, 1, "view", 3.0, None),
        (4, t0, 3, "view", 4.0, None),
    ]
    d1 = str(tmp_path / "disjoint")
    _write(disjoint, d1)
    [r] = registry.queries()["events_ab_ks_test"](spark, d1).collect()
    assert (r.n0, r.n1) == (2, 2)
    assert r.ks_ppm == 1_000_000, r
    assert r.at_cents == 200, r  # ECDF gap maximal at arm 0's top value

    identical = [
        (1, t0, 2, "view", 1.5, None),
        (2, t0, 4, "view", 2.5, None),
        (3, t0, 1, "view", 1.5, None),
        (4, t0, 3, "view", 2.5, None),
    ]
    d2 = str(tmp_path / "identical")
    _write(identical, d2)
    [r2] = registry.queries()["events_ab_ks_test"](spark, d2).collect()
    assert r2.ks_ppm == 0, r2


def test_mannwhitney_matches_bruteforce_pairwise(spark):
    """Independent-model pin for events_ab_mannwhitney: the midrank
    closed form over the distinct-value grid must equal the DEFINITION
    — U = #(arm1 > arm0 pairs) + ½·#(tied pairs) — computed by literal
    pairwise comparison over the real sf0.001 events."""
    from tests.conftest import SF_DIR

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "value")
        .collect()
    )
    a0 = [int(round(r.value * 100)) for r in rows if r.user_id % 2 == 0]
    a1 = [int(round(r.value * 100)) for r in rows if r.user_id % 2 == 1]
    from collections import Counter

    c0 = Counter(a0)
    u2 = 0  # doubled U: 2 per strictly-greater pair, 1 per tie
    for v1 in a1:
        for v0, n in c0.items():
            if v1 > v0:
                u2 += 2 * n
            elif v1 == v0:
                u2 += n
    [r] = registry.queries()["events_ab_mannwhitney"](spark, SF_DIR).collect()
    assert (r.n0, r.n1) == (len(a0), len(a1))
    assert r.u2 == u2, (r.u2, u2)
    assert r.cles_ppm == (1_000_000 * u2) // (2 * len(a0) * len(a1))


def test_cusum_closed_form_matches_recursive_fold(spark, tmp_path):
    """The load-bearing claim of events_cusum_drift: the window
    closed form S_i - min_{j<=i} S_j equals the textbook recursion
    s_i = max(0, s_{i-1} + y_i). Verify on a planted single-series
    fixture against a literal Python fold, including the alarm count
    at a small threshold."""
    import datetime as dt
    import random

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.operators.timeseries import _CUSUM_H_CENTS

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    vals = [round(rng.uniform(0, 120), 2) for _ in range(400)]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "click", v, None)
        for i, v in enumerate(vals)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    [got] = registry.queries()["events_cusum_drift"](spark, sf_dir).collect()

    cents = [round(v * 100) for v in vals]
    mu = sum(cents) // len(cents)           # floor-divided, like the query
    s, mx, alarms = 0, 0, 0
    for c in cents:
        s = max(0, s + (c - mu))            # the textbook recursion
        mx = max(mx, s)
        alarms += s > _CUSUM_H_CENTS
    assert got.max_cusum_cents == mx
    assert got.n_alarm_rows == alarms


def test_time_decay_halflife_planted_weights(spark, tmp_path):
    """Pin window_decay_time_halflife's clock semantics on a planted
    series: events exactly 0, 1, and 2 half-lives before the probe row
    weigh 1, 1/2, 1/4; an event 100 half-lives back clamps to weight
    2^-40 (not 2^-100) and its contribution survives EXACTLY in the
    BIGINT sum; and a sub-half-life gap (Δt just under HL) does not
    decay at all (whole-half-life quantization)."""
    import datetime as dt

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.operators.windows import (
        _TDECAY_CLAMP,
        _TDECAY_HL_US,
    )

    hl = dt.timedelta(microseconds=_TDECAY_HL_US)
    t0 = dt.datetime(2024, 1, 10)
    rows = [
        (1, t0 - 100 * hl, 7, "click", 64.0, None),   # clamps to 2^-40
        (2, t0 - 2 * hl, 7, "click", 4.0, None),      # weight 1/4
        (3, t0 - hl, 7, "click", 2.0, None),          # weight 1/2
        (4, t0 - hl + dt.timedelta(seconds=1), 7, "click", 8.0, None),  # k=0
        (5, t0, 7, "click", 1.0, None),               # probe row, weight 1
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        r.event_id: r.decayed_sum
        for r in registry.queries()["window_decay_time_halflife"](
            spark, sf_dir
        ).collect()
    }
    want = 1.0 + 8.0 + 2.0 / 2 + 4.0 / 4 + 64.0 * 2.0 ** -_TDECAY_CLAMP
    assert got[5] == want, (got[5], want)   # exact, not approx
    assert got[1] == 64.0                   # oldest row sees only itself


def test_linear_trend_known_line_and_degenerate_group(spark, tmp_path):
    """Pin agg_linear_trend on planted points: a perfect line y=3x+7
    recovers slope=3, intercept=7, r2=1 EXACTLY (integer moments, one
    division); a single-point group and a constant-x group yield NULL
    slope/r2 instead of an ANSI division error."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    base = dt.datetime(1995, 1, 1)
    rows = []
    for x in range(10):                       # y = 3x + 7, exact line
        rows.append((len(rows), 0, "LINE", float(3 * x + 7),
                     base + dt.timedelta(days=x)))
    rows.append((len(rows), 0, "ONEPT", 42.0, base))
    for _ in range(3):                        # constant x, varying y
        rows.append((len(rows), 0, "FLATX", float(len(rows)), base))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string, "
        "o_totalprice double, o_orderdate timestamp",
    ).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")

    got = {
        r.priority: r
        for r in registry.queries()["agg_linear_trend"](spark, sf_dir).collect()
    }
    assert got["LINE"].slope_dollars_per_day == 3.0
    assert got["LINE"].intercept_dollars == 7.0
    assert got["LINE"].r2 == 1.0
    for g in ("ONEPT", "FLATX"):
        assert got[g].slope_dollars_per_day is None
        assert got[g].r2 is None


def test_sweepline_closed_interval_off_by_one(spark, tmp_path):
    """Pin ts_interval_sweepline's boundary semantics on two planted
    shipments: orderkey 20 ships day 0 with duration (20%20)+3 = 3
    days (in transit days 0..3), orderkey 21 ships day 2 with duration
    4 (days 2..6). Expected concurrency: day0 1, day2 2, day4 1 (first
    interval closed through day 3), day7 0."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (20, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t0),
        (21, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t0 + dt.timedelta(days=2)),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")

    got = {
        r.d: r.open_shipments
        for r in registry.queries()["ts_interval_sweepline"](spark, sf_dir).collect()
    }
    d = lambda off: (t0 + dt.timedelta(days=off)).date()
    assert got[d(0)] == 1          # first ships
    assert got[d(2)] == 2          # overlap begins
    assert got[d(4)] == 1          # first arrived day 3 (closed), gone day 4
    assert got[d(7)] == 0          # second arrived day 6, gone day 7


def test_cusum_positive_start_keeps_zero_baseline(spark, tmp_path):
    """Review r7s4 regression: a walk that NEVER dips below zero (big
    values first, small after) must measure drift against the S0 = 0
    baseline, not against the running min of actual rows - the
    row-only min understates max CUSUM by the first deviation."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 1, 1)
    vals = [1000.0, 1000.0, 0.0, 0.0]       # mu=500, walk 500,1000,500,0
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "view", v, None)
        for i, v in enumerate(vals)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    [got] = registry.queries()["events_cusum_drift"](spark, sf_dir).collect()
    assert got.max_cusum_cents == 100000    # NOT 50000 (row-only min)
    assert got.n_alarm_rows == 1            # threshold 50000: one row above


def test_bm25_plans_topk_heap_not_global_sort(spark):
    """text_bm25_search's scale claim is plan-checkable: the top-k must
    be a TakeOrderedAndProject (per-partition heap + driver merge of
    k*P rows), never a global Sort, and the corpus side must join the
    1-row stats via broadcast, not an exchange of the scan."""
    df = registry.queries()["text_bm25_search"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row stats cross join


def test_weighted_median_crossing_semantics(spark, tmp_path):
    """Pin agg_weighted_median on planted rows: weights [1, 1, 10]
    over prices [10, 20, 30] put half the 12-unit total inside the
    heavy item (median 30.00, not the unweighted 20.00), and an
    exact half-crossing [1, 1, 2] over [1, 2, 3] picks the LOWER
    median (price 2: 2*cum=4 >= 4 crosses there)."""
    from mapreduceplusplus_spark import registry

    rows = [
        # flag A: heavy tail item dominates
        (1, 1, "A", 10.0, 1.0), (2, 1, "A", 20.0, 1.0), (3, 1, "A", 30.0, 10.0),
        # flag B: exact half at the middle element -> lower median
        (4, 1, "B", 1.0, 1.0), (5, 1, "B", 2.0, 1.0), (6, 1, "B", 3.0, 2.0),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, "
        "l_extendedprice double, l_quantity double",
    ).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")

    got = {
        r.flag: r
        for r in registry.queries()["agg_weighted_median"](spark, sf_dir).collect()
    }
    assert got["A"].wmedian_cents == 3000 and got["A"].total_weight == 12
    assert got["B"].wmedian_cents == 200 and got["B"].total_weight == 4


def test_floor_div_sql_matches_python_floor(spark):
    """The shared two-dialect floor-division helper must equal
    Python's // (true floor) for negative and positive numerators on
    BOTH engines - bare `div`//`//` truncate toward zero instead."""
    import duckdb

    from mapreduceplusplus_spark.session import floor_div_sql

    cases = [(-7001, 2), (-7000, 2), (-1, 3), (0, 3), (7, 2), (-9, 4)]
    for n, d in cases:
        want = n // d
        frag_s = floor_div_sql(str(n), str(d), "spark")
        frag_d = floor_div_sql(str(n), str(d), "duckdb")
        got_s = spark.sql(f"SELECT {frag_s} AS v").collect()[0].v
        got_d = duckdb.sql(f"SELECT {frag_d} AS v").fetchone()[0]
        assert got_s == got_d == want, (n, d, got_s, got_d, want)


def test_cusum_negative_sum_floor_mean(spark, tmp_path):
    """Review r7s4 second-pass regression: a series with NEGATIVE
    summed cents must use the FLOOR mean on both engines. Values
    -35.01 and -35.00: sum=-7001 over 2 rows, floor mean -3501 (a
    truncating engine says -3500, shifting every deviation by 1).
    Differentially compared, plus the exact walk pinned."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", -35.01, None),
        (2, t0 + dt.timedelta(minutes=1), 1, "view", -35.00, None),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    duck = con.execute(registry.oracles()["events_cusum_drift"]).fetchall()
    con.close()
    [got] = registry.queries()["events_cusum_drift"](spark, sf_dir).collect()
    # floor mean -3501: y = [0, +1]; walk s = [0, 1] -> max 1
    assert got.max_cusum_cents == 1, got
    assert duck == [(got.event_type, got.max_cusum_cents, got.n_alarm_rows)]


def test_trimmed_mean_drops_exact_deciles(spark, tmp_path):
    """Pin agg_trimmed_mean's band arithmetic on planted rows: 10
    values [0, 1..8, 1000000] -> n div 10 = 1 trimmed from each end,
    kept band is exactly 1..8 (the planted outliers vanish), mean
    (1+..+8) div 8 = 4; a group of 9 rows trims nothing (9 div 10 =
    0)."""
    from mapreduceplusplus_spark import registry

    rows = []
    vals_a = [0.0] + [float(i) for i in range(1, 9)] + [10000.0]
    for i, v in enumerate(vals_a):
        rows.append((i, 1, "A", v))
    for i in range(9):                         # n=9: no trimming
        rows.append((100 + i, 1, "B", float(i + 1)))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, "
        "l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")

    got = {
        r.flag: r
        for r in registry.queries()["agg_trimmed_mean"](spark, sf_dir).collect()
    }
    assert got["A"].n_kept == 8
    assert got["A"].kept_cents == sum(i * 100 for i in range(1, 9))
    assert got["A"].trimmed_mean_cents == 450        # floor(3600/8)
    assert got["B"].n_kept == 9                      # 9 div 10 = 0 trimmed


def test_trimmed_mean_floor_division_and_boundary_ties(spark, tmp_path):
    """Review r7s4 third-pass coverage: (1) a kept-band sum that does
    NOT divide evenly must floor (7 cents over 2 rows -> 3, not 3.5
    rounded); (2) equal cents straddling the trim boundary are split
    deterministically by the (cents, orderkey, linenumber) tiebreak -
    exactly n div 10 rows leave each end even when the boundary value
    is tied."""
    from mapreduceplusplus_spark import registry

    rows = []
    # group A: values (cents) [1, 3, 4, x] won't arise from dollars, so
    # use dollars 0.01,0.03,0.04,0.99 -> n=4, n div 10 = 0 trimmed,
    # kept sum 107 cents over 4 rows -> floor 26 (107/4 = 26.75)
    for i, v in enumerate([0.01, 0.03, 0.04, 0.99]):
        rows.append((i, 1, "A", v))
    # group B: ten rows, FOUR tied at the low value 1.00 -> trim 1 from
    # each end; exactly ONE of the tied 1.00 rows (lowest orderkey)
    # must leave, keeping three 1.00s; the single top 9.00 leaves
    vals_b = [1.00, 1.00, 1.00, 1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 9.00]
    for i, v in enumerate(vals_b):
        rows.append((100 + i, 1, "B", v))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, "
        "l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")

    got = {
        r.flag: r
        for r in registry.queries()["agg_trimmed_mean"](spark, sf_dir).collect()
    }
    assert got["A"].n_kept == 4
    assert got["A"].kept_cents == 107
    assert got["A"].trimmed_mean_cents == 26         # floor, not round
    assert got["B"].n_kept == 8                      # exactly 1 off each end
    # kept: three 1.00s + 2..6 = 300 + 2000 cents
    assert got["B"].kept_cents == 300 + 200 + 300 + 400 + 500 + 600
    assert got["B"].trimmed_mean_cents == (2300) // 8


def test_psi_identical_and_shifted_distributions(spark, tmp_path):
    """Pin dq_distribution_psi against hand-computed terms: a bin
    present in ONLY one period gets the Laplace +1 on the other side
    and a positive contribution; the equal-count bin's term reflects
    the SHARE difference (same counts, different totals), matching
    the exact (p-q)*ln(p/q) formula floored to micro-units."""
    import datetime as dt
    import math

    from mapreduceplusplus_spark import registry

    early = dt.datetime(2024, 1, 5)
    late = dt.datetime(2024, 1, 25)
    rows = []
    eid = 0
    # bin 0 (value 5): 4 early + 4 late -> identical -> term 0
    for t in (early, late):
        for _ in range(4):
            rows.append((eid, t, 1, "view", 5.0, None)); eid += 1
    # bin 2 (value 25): 6 early only -> drift
    for _ in range(6):
        rows.append((eid, early, 1, "view", 25.0, None)); eid += 1
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        r.bin: r
        for r in registry.queries()["dq_distribution_psi"](spark, sf_dir).collect()
    }
    # smoothed: bin0 a=5,b=5; bin2 a=7,b=1; ta=12, tb=6
    assert got[0].n_early == 5 and got[0].n_late == 5
    assert got[2].n_early == 7 and got[2].n_late == 1
    t0 = (5 / 12 - 5 / 6) * math.log((5 * 6) / (5 * 12))
    t2 = (7 / 12 - 1 / 6) * math.log((7 * 6) / (1 * 12))
    assert got[0].psi_term_micro == math.floor(t0 * 1e6)
    assert got[2].psi_term_micro == math.floor(t2 * 1e6)
    assert got[2].psi_term_micro > 0


def test_asof_nearest_exact_tie_at_epoch_magnitude(spark, tmp_path):
    """Review r7s4 regression: purchases EXACTLY equidistant around a
    click at a realistic epoch timestamp must tie to the BACKWARD
    (earlier) row on both engines — the cast-to-double distance this
    replaces flipped ~25% of such ties forward because each timestamp
    carries independent double rounding at epoch magnitudes."""
    import datetime as dt

    import duckdb

    from mapreduceplusplus_spark import registry

    t = dt.datetime(2025, 1, 13, 13, 37, 9, 449314)
    d = dt.timedelta(seconds=6341, microseconds=935621)
    rows = [
        (1, t - d, 7, "purchase", 1.0, None),
        (2, t, 7, "click", 0.0, None),
        (3, t + d, 7, "purchase", 2.0, None),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    [got] = registry.queries()["join_asof_nearest"](spark, sf_dir).collect()
    assert got.purchase_event_id == 1, got      # backward wins the tie

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    [(duck_pe,)] = con.execute(
        "SELECT purchase_event_id FROM ("
        + registry.oracles()["join_asof_nearest"]
        + ")"
    ).fetchall()
    con.close()
    assert duck_pe == 1                         # engines agree


def test_asof_tolerance_boundary_inclusive(spark, tmp_path):
    """Pin join_asof_tolerance's boundary: a signup EXACTLY 7 days
    before the purchase still matches (<= tolerance, inclusive), one
    microsecond farther is nulled out - and the null covers BOTH
    output columns atomically (no orphaned secs_since_signup)."""
    import datetime as dt

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.operators.asof import _TOL_US

    tol = dt.timedelta(microseconds=_TOL_US)
    t = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (1, t - tol, 1, "signup", 0.0, None),                # exactly at tol
        (2, t, 1, "purchase", 5.0, None),
        (3, t - tol - dt.timedelta(microseconds=1), 2, "signup", 0.0, None),
        (4, t, 2, "purchase", 5.0, None),                    # 1 us too far
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        r.user_id: r
        for r in registry.queries()["join_asof_tolerance"](spark, sf_dir).collect()
    }
    assert got[1].signup_event_id == 1
    assert got[1].secs_since_signup == _TOL_US // 1_000_000
    assert got[2].signup_event_id is None
    assert got[2].secs_since_signup is None     # atomic null


def test_srm_flag_boundary(spark, tmp_path):
    """Pin events_ab_srm_check's cross-multiplied threshold: with
    n=1000 units, delta^2*1000 > 3841*n flips exactly above
    delta = 62 (62^2=3844 > 3841) - plant 531/469 (flagged) and
    531/470 (not flagged, delta=61, 61^2=3721)."""
    import datetime as dt

    from mapreduceplusplus_spark import registry

    t0 = dt.datetime(2024, 1, 1)

    def plant(n_even, n_odd, path):
        rows = []
        # even user_ids -> 'A', odd -> 'B'; one event per unit
        for i in range(n_even):
            rows.append((len(rows), t0, 2 * i, "view", 1.0, None))
        for i in range(n_odd):
            rows.append((len(rows), t0, 2 * i + 1, "view", 1.0, None))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{path}/events.parquet")

    d1 = str(tmp_path / "flagged"); d2 = str(tmp_path / "ok")
    plant(531, 469, d1)     # delta 62: 3844*1000 > 3841*1000 -> flag
    plant(531, 470, d2)     # delta 61: 3721*1001 ... not flagged
    [r1] = registry.queries()["events_ab_srm_check"](spark, d1).collect()
    [r2] = registry.queries()["events_ab_srm_check"](spark, d2).collect()
    assert r1.srm_flag is True and r1.n_a == 531 and r1.n_b == 469
    assert r2.srm_flag is False


def test_round8_sql_surface_plan_equality(spark):
    """The r8 SQL-surface rows claim to change SYNTAX, not semantics —
    pin that mechanically: each variant's OPTIMIZED logical plan must
    equal the plan of its classic/inlined formulation run in the same
    session (modulo expression ids, which canonicalization strips).
    Covers: pipe syntax vs classic SELECT, named-parameter binding vs
    inlined literals, session variables vs inlined literals, and
    IDENTIFIER() vs a direct table reference."""
    import datetime
    import re

    from mapreduceplusplus_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_ORACLE

    def canon(df):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        # strip expression ids (#123) and plan ids — the only
        # run-to-run noise in an optimized-plan rendering
        return re.sub(r"#\d+L?", "#", p)

    qs = registry.queries()
    for t in ("lineitem", "orders", "customer"):
        load_table(spark, SF_DIR_ORACLE, t).createOrReplaceTempView(t)

    pairs = {
        "sql_pipe_syntax": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_price_cents,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "sql_session_variables": """
            SELECT l_returnflag,
                   count(*) AS n_lines,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem
            WHERE l_quantity >= 40
            GROUP BY l_returnflag
        """,
        "sql_parameterized_query": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderstatus = 'F'
            GROUP BY o_orderpriority
        """,
        "sql_identifier_clause": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            GROUP BY c_mktsegment
        """,
    }
    for name, classic_sql in pairs.items():
        variant = canon(qs[name](spark, SF_DIR_ORACLE))
        classic = canon(spark.sql(classic_sql))
        assert variant == classic, f"{name}: optimized plan diverges\n{variant}\n--\n{classic}"


# ------------------------------------------------- connected components paths


def _chain_edges(spark, n_nodes: int):
    """Symmetric edge list for a path graph 0-1-2-…-(n_nodes-1) — the
    adversarial near-dup CHAIN shape (crawl-snapshot drift: each
    adjacent pair ≥ threshold-similar, endpoints unrelated)."""
    pairs = [(i, i + 1) for i in range(n_nodes - 1)]
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    return df.unionAll(
        df.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()


def test_cc_chain_diameter25_baseline_fails_loud_twophase_converges(spark):
    """VERDICT r8 item 1: a diameter-25 chain must (a) make the capped
    O(diameter) min-label baseline fail LOUDLY (RuntimeError, never a
    silent split-cluster answer) and (b) converge under the
    large-star/small-star alternation in O(log n) rounds (≤ ~7)."""
    from mapreduceplusplus_spark.llm.dedup import (
        _cc_min_label_propagation,
        _cc_two_phase,
    )

    edges = _chain_edges(spark, 26)  # 26 nodes, diameter 25
    try:
        # (a) baseline capped at 20 rounds: 25-hop chain cannot finish
        with pytest.raises(RuntimeError, match="did not converge"):
            _cc_min_label_propagation(edges, max_rounds=20)
        # (b) two-phase: converges fast, labels all-zero (single component)
        labels, rounds = _cc_two_phase(edges)
        assert rounds <= 7, f"two-phase took {rounds} rounds on diameter 25"
        got = {(r.u, r.label) for r in labels.collect()}
        assert got == {(i, 0) for i in range(26)}
    finally:
        edges.unpersist()


@pytest.mark.parametrize(
    "loop",
    [
        "k-core peeling",
        "BFS frontier",
        "Bellman-Ford fixpoint",
        "connected-components min-label propagation",
        "large-star/small-star connected components",
    ],
)
def test_every_fixpoint_loop_raises_at_its_cap(spark, monkeypatch, loop):
    """Every convergence loop on ``iterate.fixpoint``, capped at one
    round on a 6-node chain that needs several, raises a RuntimeError
    naming the loop instead of returning a partial answer."""
    import mapreduceplusplus_spark.operators.graph as G
    from mapreduceplusplus_spark.llm.dedup import (
        _cc_min_label_propagation,
        _cc_two_phase,
    )

    monkeypatch.setattr(G, "_KCORE_MAX_ROUNDS", 1)
    monkeypatch.setattr(G, "_SSSP_MAX_ROUNDS", 1)
    edges = _chain_edges(spark, 6)
    run = {
        "k-core peeling": lambda: G.kcore_subgraph(edges, 2),
        "BFS frontier": lambda: G.sssp_frontier(edges, 0),
        "Bellman-Ford fixpoint": lambda: G.bellman_ford(
            edges.withColumn("w", F.lit(1).cast("bigint")),
            spark.createDataFrame([(0,)], "source bigint"),
        ),
        "connected-components min-label propagation": lambda: (
            _cc_min_label_propagation(edges, max_rounds=1)
        ),
        "large-star/small-star connected components": lambda: _cc_two_phase(
            edges, max_rounds=1
        ),
    }[loop]
    try:
        with pytest.raises(
            RuntimeError, match=re.escape(loop) + " did not converge in 1 rounds"
        ):
            run()
    finally:
        edges.unpersist()


def test_sssp_chain_depth25_converges_and_cap_raises_loud(spark):
    """VERDICT r9 item 4 evidence: frontier BFS on a 26-node path must
    (a) return exact hop distances (vertex i at distance i), (b) take
    one frontier round per hop plus the empty-frontier probe — the
    O(eccentricity) round bound, adversarially deep here — and (c)
    RAISE on an undersized round cap instead of returning partial
    distances (the loud-failure contract shared with CC and k-core)."""
    import mapreduceplusplus_spark.operators.graph as G

    edges = _chain_edges(spark, 26)
    try:
        dists, rounds = G.sssp_frontier(edges, 0)
        got = {(r.v, r.dist) for r in dists.collect()}
        assert got == {(i, i) for i in range(26)}
        assert rounds == 26, f"expected 25 expansions + empty probe, got {rounds}"
        old = G._SSSP_MAX_ROUNDS
        try:
            G._SSSP_MAX_ROUNDS = 10
            with pytest.raises(RuntimeError, match="frontier"):
                G.sssp_frontier(edges, 0)
        finally:
            G._SSSP_MAX_ROUNDS = old
        # a mid-chain source reaches both ways: eccentricity halves
        dists2, rounds2 = G.sssp_frontier(edges, 13)
        got2 = {(r.v, r.dist) for r in dists2.collect()}
        assert got2 == {(i, abs(i - 13)) for i in range(26)}
        assert rounds2 == 14
    finally:
        edges.unpersist()


def test_bfs_two_level_antijoin_handles_same_level_and_back_edges(spark):
    """``sssp_frontier`` anti-joins candidates against the last
    TWO frontier levels only (valid on symmetric edges: a neighbor of
    a depth-d vertex has depth ∈ {d−1, d, d+1}).  An odd cycle forces
    BOTH collision classes the proof covers — a same-level edge (the
    two wavefronts meet) and back-edges — so duplicate labels would
    surface here if the two-level argument were wrong."""
    import mapreduceplusplus_spark.operators.graph as G

    n = 7  # C7: 0-1-2-3-4-5-6-0 — wavefronts meet at an EDGE (3,4)
    pairs = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    edges = df.unionAll(
        df.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    try:
        dists, rounds = G.sssp_frontier(edges, 0)
        got = sorted((r.v, r.dist) for r in dists.collect())
        assert got == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 3), (5, 2), (6, 1)]
        # exactly one label per vertex (no duplicate-level leakage)
        assert len({v for v, _ in got}) == n
        assert rounds == 4  # ecc 3 + the empty probe
    finally:
        edges.unpersist()


def test_bellman_ford_two_hops_beat_heavy_direct_edge_and_cap_raises(spark):
    """Weighted-SSSP semantics BFS cannot express, on a constructed
    graph: (a) a 2-hop route (0→1→4, weight 2+1=3) must beat the
    direct edge (0→4, weight 5); (b) a cheaper LATER-found route must
    overwrite an earlier-settled distance (the reason weighted search
    can't settle by hop count); (c) multi-source relaxation keeps each
    source independent; (d) an undersized round cap RAISES."""
    import mapreduceplusplus_spark.operators.graph as G

    # weights follow the registered query's derivation w = 1+(a+b)%5:
    # (0,1)=2, (1,4)=1, (0,4)=5, (4,5)=5, (1,2)=4, (2,5)=3
    raw = [(0, 1), (1, 4), (0, 4), (4, 5), (1, 2), (2, 5)]
    df = spark.createDataFrame(raw, "a bigint, b bigint")
    e2 = (
        df.select(F.col("a").alias("u"), F.col("b").alias("v"),
                  (1 + (F.col("a") + F.col("b")) % 5).alias("w"))
        .unionAll(
            df.select(F.col("b").alias("u"), F.col("a").alias("v"),
                      (1 + (F.col("a") + F.col("b")) % 5).alias("w"))
        )
        .persist()
    )
    srcs = spark.createDataFrame([(0,), (5,)], "source bigint")
    try:
        dist, rounds = G.bellman_ford(e2, srcs)
        got = {(r.source, r.v): r.dist for r in dist.collect()}
        # from 0: hop-1 route to 4 costs 5, the 2-hop route costs 3
        assert got[(0, 4)] == 3
        assert got[(0, 1)] == 2 and got[(0, 2)] == 6 and got[(0, 5)] == 8
        # from 5: 5→2→1 (3+4=7) vs 5→4→1 (5+1=6): later-found wins
        assert got[(5, 1)] == 6 and got[(5, 0)] == 8 and got[(5, 4)] == 5
        assert got[(0, 0)] == 0 and got[(5, 5)] == 0
        assert rounds <= 6
        old = G._SSSP_MAX_ROUNDS
        try:
            G._SSSP_MAX_ROUNDS = 1
            with pytest.raises(RuntimeError, match="fixpoint"):
                G.bellman_ford(e2, srcs)
        finally:
            G._SSSP_MAX_ROUNDS = old
    finally:
        e2.unpersist()


def test_r10_iterative_results_have_truncated_lineage_and_sane_joins(spark):
    """Plan-shape pins for the r10 additions: (a) the frames returned
    by the iterative graph queries must read from CHECKPOINTED rounds
    (Scan ExistingRDD), never re-derive the lineitem self-join — the
    iterate-and-truncate contract made visible in the plan; (b)
    cdc_incremental_diff must plan pure hash/sort equi-joins — no
    cartesian or broadcast-nested-loop node anywhere."""
    from tests.conftest import SF_DIR_ORACLE

    from mapreduceplusplus_spark import registry

    qs = registry.queries()
    for name in ("graph_sssp", "graph_sssp_weighted"):
        plan = (
            qs[name](spark, SF_DIR_ORACLE)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "Relation" not in plan or "parquet" not in plan.lower(), (
            name,
            plan,
        )
        assert "LogicalRDD" in plan, (name, plan)
    cdc_plan = (
        qs["cdc_incremental_diff"](spark, SF_DIR_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in cdc_plan
    assert "BroadcastNestedLoopJoin" not in cdc_plan


def test_cc_twophase_matches_baseline_on_multi_component_graph(spark):
    """Cross-pin the two CC engines on a graph with several components
    of mixed shape (chain, triangle+tail, star, singleton-pair): the
    uncapped baseline and the two-phase alternation must emit the
    identical (node → min-of-component) labeling."""
    from mapreduceplusplus_spark.llm.dedup import (
        _cc_min_label_propagation,
        _cc_two_phase,
    )

    raw = [
        # chain 0-1-2-3-4
        (0, 1), (1, 2), (2, 3), (3, 4),
        # triangle 10-11-12 with tail 12-13
        (10, 11), (11, 12), (10, 12), (12, 13),
        # star centered at 20
        (20, 21), (20, 22), (20, 23), (20, 24),
        # pair
        (30, 31),
    ]
    df = spark.createDataFrame(raw, "u bigint, v bigint")
    edges = df.unionAll(
        df.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    try:
        base, _ = _cc_min_label_propagation(edges, max_rounds=20)
        two, _ = _cc_two_phase(edges)
        expect = {
            **{i: 0 for i in range(5)},
            **{i: 10 for i in (10, 11, 12, 13)},
            **{i: 20 for i in (20, 21, 22, 23, 24)},
            30: 30, 31: 30,
        }
        assert {(r.u, r.label) for r in base.collect()} == set(expect.items())
        assert {(r.u, r.label) for r in two.collect()} == set(expect.items())
    finally:
        edges.unpersist()


def test_runtime_bloom_filter_injects_on_fact_scan(spark):
    """join_runtime_bloom_filter's scale contract: under a session
    where the injection thresholds are met (documented Spark confs —
    no broadcast shortcut, creation side under the size cap,
    application side always eligible), Catalyst injects a bloom
    filter built from the filtered dim keys as a might_contain
    predicate on the LINEITEM side — the fact rows are dropped before
    the join's exchange.  Values must be identical with and without
    the injection (the filter is lossless by construction: false
    positives only pass extra rows into the join, which drops them)."""
    qs = registry.queries()
    base = qs["join_runtime_bloom_filter"](spark, SF_DIR_ORACLE).collect()

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100GB",
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    df = qs["join_runtime_bloom_filter"](s2, SF_DIR_ORACLE)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in p or "BloomFilter" in p, p
    pe = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in pe, pe
    # the filter must be APPLIED TO the fact join key: the
    # might_contain predicate references l_partkey in the same
    # expression (a filter on the part branch would reference
    # p_partkey instead)
    mc_lines = [ln for ln in pe.split("\n") if "might_contain" in ln]
    assert mc_lines and any("l_partkey" in ln for ln in mc_lines), pe
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, base))


def test_count_min_sketch_bounds_and_determinism(spark):
    """CMS pins: every probe estimate obeys the one-sided bound
    exact <= est <= exact + eps*N (within_bound True on every row),
    the result is deterministic under the fixed seed, and the empty
    corpus degrades to zero rows with the declared schema."""
    qs = registry.queries()
    rows = qs["agg_count_min_sketch"](spark, SF_DIR_ORACLE).collect()
    assert len(rows) == 8
    assert all(r.within_bound for r in rows), rows
    rows2 = qs["agg_count_min_sketch"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))

    import os
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="cms_empty_")
    try:
        li = spark.read.parquet(f"{SF_DIR_ORACLE}/lineitem.parquet").limit(0)
        tmp = os.path.join(out, "_t")
        li.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(out, "lineitem.parquet"))
        empty = qs["agg_count_min_sketch"](spark, out).collect()
        assert empty == []
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_kcore_cascade_fixture_and_independent_peel(spark):
    """graph_kcore pins (no SQL oracle — a greatest fixpoint):
    (a) constructed cascade fixture: K4 clique {10..13} with a pendant
        chain 1-2-3-10 → the 3-core is exactly the clique (each at
        degree 3) and the chain peels across MULTIPLE rounds (each
        removal exposes the next vertex);
    (b) real data: the returned 15-core equals an independent pure-
        Python peel of the same edge set, every within-core degree
        >= 15, and the result is deterministic."""
    import collections

    from mapreduceplusplus_spark.operators.graph import kcore_subgraph

    und = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
           (1, 2), (2, 3), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "u bigint, v bigint"
    )
    core, rounds = kcore_subgraph(edges, 3)
    rows = sorted((r.v, r.degree) for r in core.collect())
    assert rows == [(10, 3), (11, 3), (12, 3), (13, 3)], rows
    assert rounds >= 2, rounds  # the chain cannot peel in one round

    qs = registry.queries()
    got = qs["graph_kcore"](spark, SF_DIR_ORACLE).collect()
    assert all(r.degree >= 15 for r in got)
    got2 = qs["graph_kcore"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))

    # independent peel on the same edge definition
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_DIR_ORACLE}/lineitem.parquet')"
    )
    pairs = con.execute("""
      SELECT a.l_partkey, b.l_partkey
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey < 400 AND b.l_partkey < 400 GROUP BY 1, 2
    """).fetchall()
    adj = collections.defaultdict(set)
    for x, y in pairs:
        adj[x].add(y)
        adj[y].add(x)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < 15:
                for w in adj[v]:
                    adj[w].discard(v)
                del adj[v]
                changed = True
    assert sorted((r.v, r.degree) for r in got) == sorted(
        (v, len(ns)) for v, ns in adj.items()
    )


def test_round9_text_ops_plan_shapes(spark):
    """Plan pins for the r9 text operators' scale claims:
    - perplexity: the checkpointed bigram-count table must leave
      exactly TWO documents scans in the executed plan (the grp build
      runs at checkpoint time; the remaining scan is the vocabulary
      branch) — the pre-fix plan re-derived the explode per model
      branch (4 scans);
    - tfidf: the per-doc top-3 must plan as WindowGroupLimit (a
      per-partition top-k heap before the full sort), and the df
      join-back must not broadcast the corpus-sized side."""
    qs = registry.queries()
    df = qs["text_perplexity_bigram"](spark, SF_DIR_ORACLE)
    df.write.format("noop").mode("overwrite").save()
    p = _plan(df)
    assert p.count("Scan parquet") <= 2, p

    p2 = _plan(qs["text_tfidf_topterms"](spark, SF_DIR_ORACLE))
    assert "WindowGroupLimit" in p2, p2


def test_ks_ppm_exact_at_bigint_boundary(spark):
    """VERDICT r10 item 5 (KS half): the documented BIGINT cap — the
    ppm ECDF product 10⁶·cum is safe up to ~9.2·10¹² rows per arm —
    pinned with constructed cumulative-count frames AT the boundary
    (the differential can never reach these magnitudes), plus the
    DECIMAL(38,0)-promoted twin verified equal there and exact BEYOND
    the BIGINT range."""
    nmax = (2**63 - 1) // 1_000_000  # 9_223_372_036_854 rows/arm
    cases = [  # (cum0, n0, cum1, n1)
        (nmax, nmax, 1, nmax),            # boundary: 10^6*cum = 2^63-ish
        (nmax - 1, nmax, nmax, nmax),
        (1, nmax, nmax // 2, nmax),
        (123, 456, 78, 90),               # everyday magnitudes
    ]
    df = spark.createDataFrame(
        cases, "cum0 long, n0 long, cum1 long, n1 long"
    ).select(
        "*",
        F.abs(
            F.expr("(1000000 * cum0) div n0 - (1000000 * cum1) div n1")
        ).alias("d_bigint"),
        F.abs(
            F.expr(
                "(1000000 * CAST(cum0 AS DECIMAL(38,0))) div n0"
                " - (1000000 * CAST(cum1 AS DECIMAL(38,0))) div n1"
            )
        ).cast("bigint").alias("d_dec"),
    )
    for r in df.collect():
        exp = abs(
            (1_000_000 * r.cum0) // r.n0 - (1_000_000 * r.cum1) // r.n1
        )
        assert r.d_bigint == exp, r
        assert r.d_dec == exp, r
    # BEYOND the cap the BIGINT form is invalid (10^6*cum > 2^63) but
    # the documented DECIMAL(38,0) promotion stays exact
    big = 10**15  # past the ~9.2e12 cap
    df2 = spark.createDataFrame(
        [(big, big, big // 3, big)], "cum0 long, n0 long, cum1 long, n1 long"
    ).select(
        F.abs(
            F.expr(
                "(1000000 * CAST(cum0 AS DECIMAL(38,0))) div n0"
                " - (1000000 * CAST(cum1 AS DECIMAL(38,0))) div n1"
            )
        ).cast("bigint").alias("d_dec")
    )
    exp2 = abs((10**6 * big) // big - (10**6 * (big // 3)) // big)
    assert df2.collect()[0].d_dec == exp2


def test_mwu_cles_ppm_exact_past_bigint(spark):
    """VERDICT r10 item 5 (MWU half): the cles_ppm ratio uses the
    DECIMAL(38,0)-promoted form IN the query (the naive BIGINT
    product 10⁶·u2 overflows at just ~2·10⁶ rows/arm — u2 ≤ 2·n0·n1).
    Pin the promoted expression exact at the accumulation boundary
    (~1.5·10⁹ rows/arm, where r1x2 ≈ 4n² grazes 2⁶³) and verify the
    overflow case is real (10⁶·u2 > 2⁶³ for every constructed row)."""
    n = 1_500_000_000  # ~the 4n^2 < 2^63 accumulation boundary
    cases = [  # (n0, n1, r1x2) with n1*(n1+1) <= r1x2 <= n1*(3n1+1)
        (n, n, n * (3 * n + 1)),               # max rank sum: U = n0*n1
        (n, n, n * (n + 1)),                   # min rank sum: U = 0
        (n, n, n * n + n * (n + 1)),           # mid: U = n0*n1/2
        (3_000_000, 2_000_000, 2 * 3_000_000 * 2_000_000 + 2_000_000 * 2_000_001),
    ]
    df = spark.createDataFrame(cases, "n0 long, n1 long, r1x2 long").select(
        "*",
        (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1))
        .cast("bigint")
        .alias("u2"),
    ).select(
        "*",
        F.expr(
            "(1000000 * CAST(u2 AS DECIMAL(38,0)))"
            " div (2 * CAST(n0 AS DECIMAL(38,0)) * n1)"
        ).cast("bigint").alias("cles_ppm"),
    )
    rows = df.collect()
    for r in rows:
        u2 = r.r1x2 - r.n1 * (r.n1 + 1)
        assert r.u2 == u2, r
        assert r.cles_ppm == (1_000_000 * u2) // (2 * r.n0 * r.n1), r
        assert 0 <= r.cles_ppm <= 1_000_000, r
    # the promotion is LOAD-BEARING: every nonzero-u2 case here is past
    # the naive BIGINT product's range
    assert all(
        1_000_000 * (r.r1x2 - r.n1 * (r.n1 + 1)) > 2**63 - 1
        for r in rows
        if r.r1x2 > r.n1 * (r.n1 + 1)
    )


@pytest.mark.slow
def test_mwu_promoted_path_end_to_end_at_overflow_scale(spark, tmp_path):
    """VERDICT r11 item 8: the r11 boundary tests pinned the
    DECIMAL(38,0)-promoted cles_ppm EXPRESSION on synthetic count
    frames; this proves the promoted path through the FULL
    ``events_ab_mannwhitney`` plan (scan → cents grid → midrank window
    → fold → promoted ratio) on a PLANTED events table with 3·10⁶ rows
    per arm — past the ~2.1·10⁶ rows/arm point where the naive BIGINT
    product 10⁶·u2 overflows.  Arms overlap on half their value
    windows (real tied midranks), and the expected u2/cles_ppm come
    from an independent integer recompute of the analytic count grid."""
    n_arm = 3_000_000
    sf = str(tmp_path / "mwu_scale")
    import os as _os

    _os.makedirs(sf)
    # arm = user_id % 2; within-arm index j uniform over 100 cents
    # cells; arm 1's window shifted +50 → cells 50..99 are tied
    (
        spark.range(2 * n_arm)
        .select(
            F.col("id").alias("event_id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.col("id").alias("user_id"),
            F.lit("exp").alias("event_type"),
            (
                (
                    (F.col("id") / 2).cast("bigint") % 100
                    + 50 * (F.col("id") % 2)
                ).cast("double")
                / 100.0
            ).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(_os.path.join(sf, "events.parquet"))
    )

    # independent integer recompute from the analytic grid: each arm
    # puts exactly n_arm/100 rows in each of its 100 cells
    per = n_arm // 100
    c0 = {c: per for c in range(0, 100)}
    c1 = {c: per for c in range(50, 150)}
    cum, r1x2 = 0, 0
    for c in range(0, 150):
        t = c0.get(c, 0) + c1.get(c, 0)
        mid2 = 2 * (cum + t) - t + 1
        r1x2 += c1.get(c, 0) * mid2
        cum += t
    u2 = r1x2 - n_arm * (n_arm + 1)
    exp_ppm = (1_000_000 * u2) // (2 * n_arm * n_arm)
    # the promotion is LOAD-BEARING at this scale: the naive BIGINT
    # product would overflow 2^63-1
    assert 1_000_000 * u2 > 2**63 - 1

    [r] = registry.queries()["events_ab_mannwhitney"](spark, sf).collect()
    assert (r.n0, r.n1) == (n_arm, n_arm), r
    assert r.u2 == u2, (r.u2, u2)
    assert r.cles_ppm == exp_ppm, (r.cles_ppm, exp_ppm)
    assert 500_000 < r.cles_ppm < 1_000_000  # arm 1 shifted up, overlap


def test_lpa_tiebreak_and_rounds_on_constructed_graph(spark):
    """Pin the synchronous-LPA semantics on a hand-built graph:
    star 1-{2,3,4} plus edge 2-3.  Round 1 from self-labels: vertex 1
    sees {2,3,4} (all count 1, tie -> min = 2); 2 sees {1,3}; 3 sees
    {1,2} -> tie -> 1; 4 sees {1}.  The count-DESC precedence (not
    just label-ASC) is exercised in round 2: vertex 1 then sees labels
    {1 (from 2), 1 (from 3), 1 (from 4)} -> 1 by MAJORITY over any
    smaller label absent."""
    from mapreduceplusplus_spark.operators.graph import lpa_rounds

    und = [(1, 2), (1, 3), (1, 4), (2, 3)]
    e2 = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    ).localCheckpoint(eager=True)
    r1 = {r["v"]: r["lbl"] for r in lpa_rounds(e2, 1).collect()}
    assert r1 == {1: 2, 2: 1, 3: 1, 4: 1}
    # round 2: v1's neighbors now all carry label 1 -> majority beats
    # the tie-break path; v2 sees {2 (from 1), 1 (from 3)} -> tie -> 1
    r2 = {r["v"]: r["lbl"] for r in lpa_rounds(e2, 2).collect()}
    assert r2[1] == 1 and r2[4] == 2
    # determinism: same input, same result, both runs
    assert r2 == {r["v"]: r["lbl"] for r in lpa_rounds(e2, 2).collect()}


def test_knn_classifier_vote_tiebreak_shape(spark):
    """ml_knn_classifier output invariants at oracle scale: one row
    per probe, votes sum <= k, correct consistent with labels."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.operators.ml import KNN_CLS_K, KNN_CLS_MOD

    registry.load_all()
    rows = registry.queries()["ml_knn_classifier"](
        spark, SF_DIR_ORACLE
    ).collect()
    assert rows, "probe set empty at oracle scale"
    for r in rows:
        assert r["probe_id"] % KNN_CLS_MOD == 0
        assert 1 <= r["n_votes"] <= KNN_CLS_K
        assert r["correct"] == int(r["pred_label"] == r["true_label"])
