"""Byte-pair-encoding tokenizer TRAINING as a relational job, plus the
apply-side subword token counter (VERDICT r12 #2 — the `pack_*` /
`corpus_token_budget_plan` family previously budgeted in whitespace
tokens, units no real trainer uses).

Reference heritage: the reference's only tokenizer is the whitespace
word splitter of the word-count demo (``mr/word_count.h:16-38``); this
module is charter headroom beyond it — the training-data-pipeline
operator a 100 TB corpus shop actually runs before packing.

Algorithm (Sennrich et al. 2016, word-internal BPE without the
end-of-word marker): start from the character segmentation of every
DISTINCT corpus word, weighted by word frequency; each merge round
counts adjacent symbol pairs, picks the argmax (count DESC, then
(lhs, rhs) ASC — fully deterministic), and re-segments every word by
greedy LEFT-TO-RIGHT non-overlapping replacement.

Why this is oracle-checkable at all: the greedy left-to-right
re-segmentation — the part every textbook implementation writes as an
imperative scan — has an exact RELATIONAL form.  Adjacent matches of
the winning pair can only be consecutive when ``lhs == rhs`` (a match
at positions p and p+1 forces sym[p+1] to equal both rhs and lhs), so
within each maximal run ("island") of consecutive match positions the
greedy scan keeps exactly the matches at EVEN offsets from the island
start.  Islands are one gaps-and-islands window (cumulative count of
non-matches), the even-offset rule is one more window — no fold, no
UDF, and DuckDB executes the identical SQL.  Pinned against an
imperative Python reference implementation on an overlap-stress corpus
(runs of identical symbols) in ``tests/test_llm_ops.py``.

Scale design (100 TB): the ONLY corpus-scale pass is the initial
word-frequency hash aggregate (explode → groupBy — map-side partial
combine, one shuffle, the word-count shape).  Everything after runs on
the DISTINCT-WORD segmentation relation, whose size is
vocabulary-bounded: |vocab| · avg_word_len symbol rows, growing
sublinearly in corpus size by Zipf's law (the same argument as
``text_perplexity_bigram``'s bigram model — measured on the sf1
genuine-cardinality fixture, 10× corpus → 10× vocab only because that
fixture renames the vocabulary per copy BY CONSTRUCTION; natural
corpora grow vocab ~ corpus^0.5-0.7).  Per merge round: one window
pass over the segmentation (lead/lag/row_number, partitioned by word —
thousands of tiny partitions, embarrassingly parallel), one
vocabulary-bounded hash agg, and a 1-row top-1.  The winning pair is
never collected: it joins back into the re-segmentation as a broadcast
1-row frame, so the whole training is DataFrame algebra end-to-end
(each merge round is cut with ``iterate.truncate``, like every
iterative operator here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.memo import memo
from mapreduceplusplus_spark.sources.tables import load_table

#: number of merge rounds — small enough that the oracle unrolls the
#: SAME merges as CTEs, large enough to exercise multi-char symbol
#: merges (the fixture learns e.g. 'er', 'in', 'st', then 'jo'+'in')
BPE_N_MERGES = 12

_MERGES_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.LongType()),
        T.StructField("lhs", T.StringType()),
        T.StructField("rhs", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("pair_count", T.LongType()),
    ]
)


def _bpe_sql_ctes(n: int = BPE_N_MERGES) -> str:
    """The n unrolled BPE merge rounds as DuckDB CTEs: ``wf`` (word
    freqs), ``seg0`` (character segmentation), then per round i the
    pair counts ``c{i}``, the deterministic argmax ``b{i}`` and the
    re-segmented ``seg{i}``.  The stateful CTEs are MATERIALIZED —
    each round references its predecessor twice (count + re-segment),
    so plain inlining would expand the chain 2^n times.

    The re-segmentation device: ``is_m`` marks match positions (the
    1-row ``b{i}`` enters as scalar subqueries; an exhausted corpus
    yields NULL → coalesce false → segmentation unchanged, exactly the
    Spark side's empty-broadcast behavior), ``grp`` is the
    gaps-and-islands cumulative non-match count, ``kept`` keeps even
    island offsets (= greedy left-to-right), and the follower row of
    every kept match is dropped before positions are renumbered."""
    ctes = [
        """wf AS MATERIALIZED (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents)
      GROUP BY w),
    seg0 AS MATERIALIZED (
      SELECT w, freq,
             unnest(generate_series(1, length(w))) - 1 AS pos,
             substr(w, unnest(generate_series(1, length(w))), 1) AS sym
      FROM wf)"""
    ]
    for i in range(1, n + 1):
        p = f"seg{i - 1}"
        ctes.append(
            f"""c{i} AS MATERIALIZED (
      SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                   freq
            FROM {p})
      WHERE nxt IS NOT NULL GROUP BY sym, nxt),
    b{i} AS (SELECT l, r, cnt FROM c{i} ORDER BY cnt DESC, l, r LIMIT 1),
    m{i} AS (
      SELECT w, freq, pos, sym,
             lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
             coalesce(sym = (SELECT l FROM b{i})
                      AND lead(sym) OVER (PARTITION BY w ORDER BY pos)
                          = (SELECT r FROM b{i}), false) AS is_m
      FROM {p}),
    g{i} AS (
      SELECT *, sum(CASE WHEN is_m THEN 0 ELSE 1 END)
                  OVER (PARTITION BY w ORDER BY pos) AS grp
      FROM m{i}),
    k{i} AS (
      SELECT *, CASE WHEN is_m THEN
                  (pos - min(CASE WHEN is_m THEN pos END)
                           OVER (PARTITION BY w, grp)) % 2 = 0
                ELSE false END AS kept
      FROM g{i}),
    seg{i} AS MATERIALIZED (
      SELECT w, freq,
             row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
             CASE WHEN kept THEN sym || nxt ELSE sym END AS sym
      FROM (SELECT *, coalesce(lag(kept) OVER (PARTITION BY w ORDER BY pos),
                               false) AS dropped
            FROM k{i})
      WHERE NOT dropped)"""
        )
    return ",\n    ".join(ctes)


def _bpe_merges_sql(n: int = BPE_N_MERGES) -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, "
        f"l || r AS merged, cnt AS pair_count FROM b{i}"
        for i in range(1, n + 1)
    )
    return f"WITH {_bpe_sql_ctes(n)}\n    SELECT * FROM ({rows})"


def _pair_counts(seg: DataFrame) -> DataFrame:
    w = Window.partitionBy("w").orderBy("pos")
    return (
        seg.withColumn("nxt", F.lead("sym").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def _merge_round(seg: DataFrame, best: DataFrame) -> DataFrame:
    """One greedy re-segmentation of ``seg`` by the 1-row pair frame
    ``best`` — the island device (module docstring).  An EMPTY ``best``
    (corpus fully merged) left-joins to NULL lhs/rhs → no matches →
    segmentation passes through unchanged, mirroring the oracle's NULL
    scalar subqueries."""
    w = Window.partitionBy("w").orderBy("pos")
    mm = (
        seg.withColumn("nxt", F.lead("sym").over(w))
        # broadcast-safe: best is LIMIT 1 — at most one row by construction
        .join(
            F.broadcast(best.select(F.col("l").alias("_l"), F.col("r").alias("_r"))),
            F.lit(True),
            "left",
        )
        .withColumn(
            "is_m",
            F.coalesce(
                (F.col("sym") == F.col("_l")) & (F.col("nxt") == F.col("_r")),
                F.lit(False),
            ),
        )
    )
    g = mm.withColumn(
        "grp", F.sum(F.when(F.col("is_m"), 0).otherwise(1)).over(w)
    )
    k = g.withColumn(
        "kept",
        F.when(
            F.col("is_m"),
            (
                F.col("pos")
                - F.min(F.when(F.col("is_m"), F.col("pos"))).over(
                    Window.partitionBy("w", "grp")
                )
            )
            % 2
            == 0,
        ).otherwise(F.lit(False)),
    )
    d = k.withColumn(
        "dropped", F.coalesce(F.lag("kept").over(w), F.lit(False))
    )
    return d.where(~F.col("dropped")).select(
        "w",
        "freq",
        (F.row_number().over(w) - 1).alias("pos"),
        F.when(F.col("kept"), F.concat("sym", "nxt"))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )


def _bpe_state(
    spark: SparkSession, sf_dir: str, n: int = BPE_N_MERGES
) -> tuple[DataFrame, DataFrame]:
    """Train ``n`` merges; returns ``(merges, seg)`` — the learned
    merge table (merge_rank, lhs, rhs, merged, pair_count) and the
    final per-word segmentation (w, freq, pos, sym), both persisted.
    Memoized per session and ``documents`` version
    (``sources/memo.py``: same eviction and release as every other
    derived-from-documents table); the whole EAGER training loop runs
    on a memo miss only."""

    def _train() -> tuple[DataFrame, DataFrame]:
        from mapreduceplusplus_spark.llm.dedup import tokens

        docs = load_table(spark, sf_dir, "documents")
        wf = (
            docs.select(F.explode(tokens(F.col("text"))).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
        )
        seg = truncate(wf.select(
            "w",
            "freq",
            F.posexplode(F.split("w", "")).alias("pos", "sym"),
        ))

        bests: list[DataFrame] = []
        for i in range(1, n + 1):
            best = truncate(  # 1 row; referenced twice below
                _pair_counts(seg)
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
            )
            bests.append(
                best.select(
                    F.lit(i).cast("bigint").alias("merge_rank"),
                    F.col("l").alias("lhs"),
                    F.col("r").alias("rhs"),
                    F.concat("l", "r").alias("merged"),
                    F.col("cnt").alias("pair_count"),
                )
            )
            # truncate per round: without it the window/join lineage
            # stacks n deep and Catalyst analysis dominates
            seg = truncate(_merge_round(seg, best))

        merges = bests[0]
        for b in bests[1:]:
            merges = merges.unionAll(b)
        empty = spark.createDataFrame([], _MERGES_SCHEMA)
        # pins the nullable schema, incl. the 0-merge case
        merges = empty.unionAll(merges)
        return merges.persist(), seg.persist()

    return memo(spark, sf_dir, "documents", ("bpe_state", n), _train)


@query("text_bpe_train", oracle=_bpe_merges_sql())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the first ``BPE_N_MERGES`` learned
    merges over the corpus vocabulary, with deterministic tiebreak
    (pair count DESC, then lexicographic).  Output: one row per merge —
    (merge_rank, lhs, rhs, merged, pair_count).  The DuckDB oracle
    unrolls the IDENTICAL rounds as SQL CTEs (island re-segmentation,
    module docstring) so every learned merge is hash-checked, not just
    counted."""
    merges, _seg = _bpe_state(spark, sf_dir)
    return merges


@query(
    "text_token_count_bpe",
    oracle=f"""
    WITH {_bpe_sql_ctes()},
    pieces AS (
      SELECT w, CAST(count(*) AS BIGINT) AS np
      FROM seg{BPE_N_MERGES} GROUP BY w),
    tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)  AS ws_tokens,
           CAST(sum(p.np) AS BIGINT) AS bpe_tokens
    FROM tok t JOIN pieces p ON p.w = t.w
    GROUP BY t.doc_id
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocabulary: per-document subword token
    count next to the whitespace-word count — the unit every real
    trainer budgets in (the whitespace counts of ``text_token_count`` /
    ``corpus_token_budget_plan`` overstate capacity by the fertility
    ratio bpe_tokens/ws_tokens).

    Scale shape: tokenization by TABLE LOOKUP — the per-word piece
    count is a vocabulary-bounded relation derived once from training
    (word → |segmentation|), and application is explode → hash join on
    the word → per-doc hash agg.  No per-document BPE scan exists
    anywhere: a corpus word's segmentation is shared by all its
    occurrences.  At 100 TB the pieces relation stays vocab-sized
    (broadcastable in practice; left as a shuffle join here so skewed
    giant vocabularies also work)."""
    _merges, seg = _bpe_state(spark, sf_dir)
    pieces = seg.groupBy("w").agg(F.count("*").cast("bigint").alias("np"))
    from mapreduceplusplus_spark.llm.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        tok.join(pieces, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("ws_tokens"),
            F.sum("np").cast("bigint").alias("bpe_tokens"),
        )
    )


@query(
    "text_bpe_fertility",
    oracle=f"""
    WITH {_bpe_sql_ctes()},
    pieces AS (
      SELECT w, CAST(count(*) AS BIGINT) AS np
      FROM seg{BPE_N_MERGES} GROUP BY w),
    tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents)
    SELECT t.lang,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)                 AS ws_tokens,
           CAST(sum(p.np) AS BIGINT)                AS bpe_tokens,
           CAST(CAST(sum(p.np) AS HUGEINT) * 1000000
                // count(*) AS BIGINT)              AS fertility_ppm
    FROM tok t JOIN pieces p ON p.w = t.w
    GROUP BY t.lang
    """,
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — bpe_tokens/ws_tokens in exact
    integer ppm, the standard readout for 'how well does this vocab
    serve each language slice' (multilingual vocab sizing decisions are
    made on exactly this table; fertility ≫ 1 means the slice pays more
    context budget per word).  Same vocab-bounded pieces lookup as
    ``text_token_count_bpe``, rolled up to |languages| rows; the ratio
    is one integer floor division (DECIMAL(38,0) Spark / HUGEINT
    oracle — the cles_ppm pairing), no float anywhere."""
    _merges, seg = _bpe_state(spark, sf_dir)
    pieces = seg.groupBy("w").agg(F.count("*").cast("bigint").alias("np"))
    from mapreduceplusplus_spark.llm.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        tok.join(pieces, "w")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("ws_tokens"),
            F.sum("np").cast("bigint").alias("bpe_tokens"),
            F.expr(
                "CAST(CAST(sum(np) AS DECIMAL(38,0)) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
    )
