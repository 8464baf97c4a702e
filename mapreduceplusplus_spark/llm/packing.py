"""Training-batch assembly operators: sequence packing, deterministic
corpus shuffling, and mixture rebalancing — the step between a cleaned
corpus (``llm/pipeline.py``) and the GPU dataloader.

Reference heritage: none (the reference engine stops at key-grouped
aggregation); these extend the engine per SURVEY.md §2's "operations a
large-scale training-data pipeline needs" charter.

Determinism contract: token counts come from the oracle-proven
``\\S+`` regexp (``llm/textstats.py:text_token_count``), shuffle keys
from the portable Knuth multiplicative hash (``llm/pipeline.py:
sample_split``), and every offset/bin/position is exact BIGINT
arithmetic — identical on any engine, any partitioning, any day.
That reproducibility is not cosmetic: training-run bitwise repro and
checkpoint-resume both depend on the batch stream being a pure
function of the corpus.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: context window (tokens) for concat-then-chunk packing
PACK_CTX = 512
#: bin capacity (tokens) for next-fit document packing
BIN_BUDGET = 256
#: shard fan-out for the deterministic corpus shuffle
N_SHARDS = 64
#: prefix-sum bucket width (docs per bucket) — the distributed
#: prefix-sum granularity; any value works, offsets are exact
PREFIX_BUCKET = 64

_KNUTH = 2654435761
_MOD = 4294967296  # 2^32

#: whitespace token count — the oracle-proven tokenizer from
#: text_token_count
_NTOK_SQL = "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)"


def _ntok():
    return F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).cast("bigint")


@query(
    "pack_concat_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NTOK_SQL} AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS tok_start
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(tok_start // {PACK_CTX} AS BIGINT) AS first_chunk,
           CAST((tok_start + greatest(n_tokens, 1) - 1) // {PACK_CTX}
                AS BIGINT) AS last_chunk,
           CAST((tok_start + greatest(n_tokens, 1) - 1) // {PACK_CTX}
                - tok_start // {PACK_CTX} + 1 AS BIGINT) AS n_chunks
    FROM c
    """,
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-style dataloader):
    documents concatenate in doc_id order into one token stream that
    is sliced into fixed ``PACK_CTX``-token context windows; each doc
    reports its global token offset and the chunk span it lands in
    (``n_chunks > 1`` = the doc is split across a chunk boundary).

    The global exclusive prefix-sum is computed the DISTRIBUTED way —
    never a single-partition window: (1) docs bucket by
    ``doc_id div PREFIX_BUCKET`` and each bucket's token total rolls
    up (map-side combined, one micro-shuffle); (2) an exclusive cumsum
    over the ~#docs/64-row bucket table (driver-scale, the only
    unpartitioned window) yields each bucket's starting offset; (3)
    offsets broadcast back and an in-bucket exclusive cumsum
    (hash-partitioned window) finishes the exact global offset.  The
    same two-pass shape as ``sort_global``'s rank assignment — at
    100 TB every stage is parallel and the serial step touches only
    the bucket census.

    Oracle: the definitionally-equivalent single global cumsum."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _ntok().alias("n_tokens")
    )
    docs = docs.withColumn(
        "bucket", F.expr(f"doc_id div {PREFIX_BUCKET}").cast("bigint")
    )
    bucket_tot = docs.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_tot.select(
        F.col("bucket").alias("ob"),
        F.coalesce(F.sum("btok").over(w_b), F.lit(0)).alias("bucket_off"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("bucket_off") + F.coalesce(
        F.sum("n_tokens").over(w_in), F.lit(0)
    )
    span_end = start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return (
        # broadcast-safe: offsets has one row per pack bucket
        # (constant, config-bounded)
        docs.join(F.broadcast(offsets), F.col("bucket") == F.col("ob"))
        .select(
            "doc_id",
            "n_tokens",
            start.cast("bigint").alias("tok_start"),
        )
        .withColumn("first_chunk", F.expr(f"tok_start div {PACK_CTX}").cast("bigint"))
        .withColumn(
            "last_chunk",
            F.expr(
                f"(tok_start + greatest(n_tokens, 1) - 1) div {PACK_CTX}"
            ).cast("bigint"),
        )
        .withColumn(
            "n_chunks",
            (F.col("last_chunk") - F.col("first_chunk") + 1).cast("bigint"),
        )
        .select(
            "doc_id", "n_tokens", "tok_start", "first_chunk", "last_chunk",
            "n_chunks",
        )
    )


@query(
    "corpus_shard_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(hv % {N_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                   ORDER BY hv // {N_SHARDS}, doc_id)
                AS BIGINT) AS pos
    FROM (SELECT doc_id,
                 CAST(CAST(doc_id AS HUGEINT) * {_KNUTH} % {_MOD}
                      AS BIGINT) AS hv
          FROM documents)
    """,
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle, sharded: every doc gets a shard
    (``hash % N_SHARDS``, 64 shards) and an exact position within its shard
    (rank by the remaining hash bits) — how production dataloaders
    randomize 100 TB: no global permutation is ever materialized;
    readers consume shards round-robin and each shard's internal
    order is a pure function of the corpus (same Knuth multiplicative
    hash as ``sample_split``; tiebreak on doc_id makes rank total).

    Scale: ONE shuffle on the shard key; each rank window is
    hash-partitioned by shard — no unpartitioned window, no driver
    state.  Growth-stable ordering: adding docs never swaps the
    relative order of existing pairs (their hash keys don't change)."""
    # the Knuth multiply rides in DECIMAL(38,0) (HUGEINT on the DuckDB
    # side): doc_id * 2654435761 passes 2^63 at doc_id ~3.47e9, well
    # inside a 100 TB corpus — same overflow class bp_ratio_halfup
    # fixed for money ratios
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CAST(CAST(doc_id AS DECIMAL(38,0)) * {_KNUTH} % {_MOD}"
            " AS BIGINT)"
        ).alias("hv"),
    )
    shard = F.expr(f"hv % {N_SHARDS}").cast("bigint")
    w = Window.partitionBy(shard).orderBy(
        F.expr(f"hv div {N_SHARDS}"), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


_BIN_SHARDS = 8


@query(
    "pack_bins_nextfit",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT doc_id,
             CAST(doc_id % {_BIN_SHARDS} AS BIGINT) AS shard,
             row_number() OVER (PARTITION BY doc_id % {_BIN_SHARDS}
                                ORDER BY doc_id) AS rn,
             least({_NTOK_SQL}, {BIN_BUDGET}) AS t
      FROM documents
    ),
    walk AS (
      SELECT shard, rn, doc_id, t,
             CAST(0 AS BIGINT) AS bin_id, t AS fill
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.rn, s.doc_id, s.t,
             CASE WHEN w.fill + s.t > {BIN_BUDGET}
                  THEN w.bin_id + 1 ELSE w.bin_id END,
             CASE WHEN w.fill + s.t > {BIN_BUDGET}
                  THEN s.t ELSE w.fill + s.t END
      FROM walk w
      JOIN seq s ON s.shard = w.shard AND s.rn = w.rn + 1
    )
    SELECT doc_id, shard, bin_id, CAST(t AS BIGINT) AS n_tokens
    FROM walk
    """,
)
def pack_bins_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit document packing: docs partition into ``_BIN_SHARDS``
    (8) shards (``doc_id % shards``) and each shard's doc_id-ordered
    stream folds greedily into ``BIN_BUDGET``-token bins — a new bin
    opens exactly when the incoming doc would overflow the current one
    (overlong docs truncate to the budget).  Unlike
    ``pack_concat_chunks`` this never splits a document across
    training sequences — the packing used when document integrity
    matters (instruction tuning, long-context curricula).

    The fold is ORDER-DEPENDENT state that no window frame expresses,
    so this is the repo's canonical custom-stateful-operator path:
    token counts compute JVM-side (regexp, codegen), then one
    ``applyInPandas`` per shard runs the O(rows) fold over Arrow
    batches — the same shape as ``stream_stateful_running_total``'s
    batch twin.  At 100 TB the shard count scales with the cluster
    (each shard's fold is embarrassingly parallel to the others) and
    per-shard state is one integer.

    Oracle: a recursive CTE walks every shard's sequence one rank per
    step — exponentially slower than the fold but definitionally the
    same recurrence (all shards advance in lock-step, depth =
    max rows/shard)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"doc_id % {_BIN_SHARDS}").cast("bigint").alias("shard"),
        F.least(_ntok(), F.lit(BIN_BUDGET)).cast("bigint").alias("n_tokens"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, bin_id = [], 0, 0
        first = True
        for t in pdf["n_tokens"]:
            t = int(t)
            if first:
                fill, first = t, False
            elif fill + t > BIN_BUDGET:
                bin_id += 1
                fill = t
            else:
                fill += t
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "shard", "bin_id", "n_tokens"]]

    return docs.groupBy("shard").applyInPandas(
        fold, schema="doc_id long, shard long, bin_id long, n_tokens long"
    )


#: shared weight-formula fragment: per-language census + totals + the
#: uniform-mix weight in floor-divided ppm — the ONE definition both
#: ``mixture_lang_weights`` (reports it) and ``mixture_sample_apply``
#: (applies it) interpolate, Spark side AND oracle side, so the scheme
#: can never drift between computing and applying
_LANG_WEIGHTS_SQL = """
    counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             count(*) AS n_langs
      FROM counts
    ),
    w AS (
      SELECT c.lang, c.n_docs, t.total, t.n_langs,
             CAST(t.total * 1000000 // (t.n_langs * c.n_docs) AS BIGINT)
                 AS weight_ppm
      FROM counts c, tot t
    )
"""


def _lang_weights(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, total, n_langs, weight_ppm) — the Spark twin of
    ``_LANG_WEIGHTS_SQL``."""
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.count("*").alias("n_langs"),
    )
    # broadcast-safe: tot is a 1-row global aggregate
    return counts.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "total",
        "n_langs",
        F.expr("total * 1000000 div (n_langs * n_docs)")
        .cast("bigint")
        .alias("weight_ppm"),
    )


@query(
    "mixture_lang_weights",
    oracle=f"""
    WITH {_LANG_WEIGHTS_SQL}
    SELECT lang, n_docs,
           CAST(n_docs * 1000000 // total AS BIGINT) AS obs_ppm,
           weight_ppm
    FROM w
    """,
)
def mixture_lang_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing weights: per-language sampling weight that
    reshapes the corpus toward a UNIFORM language mix —
    ``weight = target_share / observed_share``, the multiplier every
    data-mixture pipeline (sampling temperatures, DoReMi-style
    reweighting) starts from.  Both the observed share and the weight
    are floor-divided parts-per-million BIGINTs, so the numbers that
    drive a sampling decision are engine-exact — a float share ratio
    can disagree in the last ulp across engines and flip a
    threshold-based mixture cap.

    Scale: one map-side-combined rollup to ~#languages rows, then a
    1-row cross join for the totals — nothing else touches the
    corpus.  Under-represented languages get weight_ppm > 1e6
    (upsample), over-represented < 1e6 (downsample)."""
    return _lang_weights(load_table(spark, sf_dir, "documents")).select(
        "lang",
        "n_docs",
        F.expr("n_docs * 1000000 div total").cast("bigint").alias("obs_ppm"),
        "weight_ppm",
    )


@query(
    "mixture_temperature_weights",
    oracle=f"""
    WITH {_LANG_WEIGHTS_SQL},
    s AS (
      SELECT lang, n_docs, total,
             CAST(round(1000000 * sqrt(CAST(n_docs AS DOUBLE)))
                  AS BIGINT) AS s_micro
      FROM w
    ),
    ssum AS (SELECT CAST(sum(s_micro) AS BIGINT) AS s_total FROM s)
    SELECT lang, n_docs,
           CAST(n_docs * 1000000 // total AS BIGINT)   AS obs_ppm,
           CAST(s_micro * 1000000 // s_total AS BIGINT) AS temp_ppm,
           -- HUGEINT oracle-side / DECIMAL(38,0) Spark-side: the same
           -- promoted-ratio pairing as events_ab_mannwhitney's
           -- cles_ppm (DuckDB's // on DECIMAL is not exact integer
           -- division)
           CAST((1000000 * CAST(s_micro AS HUGEINT) * total)
                // (CAST(s_total AS HUGEINT) * n_docs)
                AS BIGINT)                              AS boost_ppm
    FROM s, ssum
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled mixture weights (α = ½, i.e. T = 2 — the
    multilingual-pretraining standard from mBERT/XLM-R onward):
    instead of ``mixture_lang_weights``' full flattening to uniform,
    each language's sampling share is proportional to ``n_docs^α`` —
    high-resource languages are downsampled, low-resource ones
    upsampled, but the corpus-size signal is only DAMPED, not erased.

    Engine-exactness without a float margin: ``sqrt`` and the ×10⁶
    multiply are single correctly-rounded IEEE ops over an
    integer-exact double, so BOTH engines produce the bit-identical
    double before rounding — unlike a multi-term float reduction,
    there is no order-of-evaluation divergence to guard.  Each
    language's scaled score quantizes to a BIGINT micro-unit
    (``s = round(10⁶·√n)``) FIRST; the normalized share and the
    boost-vs-observed ratio are then pure integer floor divisions
    (the boost numerator 10⁶·s·total is DECIMAL(38,0)-promoted: at
    10¹² docs it reaches ~10³⁰, past BIGINT but comfortably inside
    DECIMAL(38,0)).

    Scale: one map-side-combined rollup to ~#languages rows, one
    1-row broadcast total — nothing else touches the corpus.
    Reference heritage: none (SURVEY §2 charter extension, mixture
    family)."""
    w = _lang_weights(load_table(spark, sf_dir, "documents"))
    s = w.select(
        "lang",
        "n_docs",
        "total",
        F.round(
            F.lit(1000000) * F.sqrt(F.col("n_docs").cast("double"))
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    ssum = s.agg(F.sum("s_micro").cast("bigint").alias("s_total"))
    # broadcast-safe: ssum is a 1-row global aggregate
    return s.crossJoin(F.broadcast(ssum)).select(
        "lang",
        "n_docs",
        F.expr("n_docs * 1000000 div total").cast("bigint").alias("obs_ppm"),
        F.expr("s_micro * 1000000 div s_total")
        .cast("bigint")
        .alias("temp_ppm"),
        F.expr(
            "(1000000 * CAST(s_micro AS DECIMAL(38,0)) * total)"
            " div (CAST(s_total AS DECIMAL(38,0)) * n_docs)"
        )
        .cast("bigint")
        .alias("boost_ppm"),
    )


@query(
    "pack_chunk_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NTOK_SQL} AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS tok_start
      FROM t
    ),
    spans AS (
      SELECT doc_id,
             CAST(tok_start // {PACK_CTX} AS BIGINT) AS first_chunk,
             CAST((tok_start + greatest(n_tokens, 1) - 1) // {PACK_CTX}
                 AS BIGINT) AS last_chunk
      FROM c
    ),
    exploded AS (
      SELECT unnest(range(first_chunk, last_chunk + 1)) AS chunk_id,
             doc_id, first_chunk
      FROM spans
    )
    SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(count(CASE WHEN first_chunk < chunk_id THEN 1 END) > 0
                AS BOOLEAN) AS starts_mid_doc
    FROM exploded
    GROUP BY chunk_id
    """,
)
def pack_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk-side manifest of ``pack_concat_chunks`` — for every
    context window: how many documents contribute, the doc-id range,
    and whether the window OPENS mid-document (a doc that began in an
    earlier chunk spills into this one) — exactly the per-sequence
    metadata a dataloader manifest stores so training can mask
    cross-document attention or skip boundary-contaminated windows.
    Derived by exploding each doc's chunk span (same exact offsets as
    the doc-side view) and grouping by chunk.

    Scale: the span explode emits n_chunks rows per doc (≈ 1 + tokens/
    ctx — bounded fan-out) and the per-chunk rollup is map-side
    combined on the chunk id; offsets reuse the distributed two-pass
    prefix sum.  DuckDB ``range`` is upper-exclusive (hence the +1)
    vs Spark's inclusive ``sequence`` — the same trap
    ``text_eval_overlap_rate`` documents."""
    spans = pack_concat_chunks(spark, sf_dir).select(
        "doc_id", "first_chunk", "last_chunk"
    )
    exploded = spans.select(
        "doc_id",
        "first_chunk",
        F.explode(
            F.sequence(F.col("first_chunk"), F.col("last_chunk"))
        ).alias("chunk_id"),
    )
    return exploded.groupBy("chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
        (
            F.count(F.when(F.col("first_chunk") < F.col("chunk_id"), 1)) > 0
        ).alias("starts_mid_doc"),
    )


#: second Knuth-style odd multiplier for the mixture-sampling hash —
#: DIFFERENT from sample_split's 2654435761 so a document's mixture
#: draw is independent of its train/val/test bucket (same doc_id must
#: not correlate across the two decisions)
_MIX_MULT = 2246822519
_MIX_MOD = 4294967296  # 2^32
_PPM = 1_000_000


@query(
    "mixture_sample_apply",
    oracle=f"""
    WITH {_LANG_WEIGHTS_SQL}
    SELECT doc_id, lang, weight_ppm, n_copies
    FROM (
      SELECT d.doc_id, d.lang, w.weight_ppm,
             CAST(w.weight_ppm // {_PPM}
                  + CASE WHEN CAST(CAST(d.doc_id AS HUGEINT) * {_MIX_MULT}
                                   % {_MIX_MOD} AS BIGINT) % {_PPM}
                              < w.weight_ppm % {_PPM}
                         THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      FROM documents d JOIN w USING (lang)
    )
    WHERE n_copies >= 1
    """,
)
def mixture_sample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the mixture weights ``mixture_lang_weights`` computes: per
    document, a deterministic integer multiplicity that realizes its
    language's parts-per-million sampling weight — ``n_copies =
    weight_ppm div 1e6`` guaranteed copies plus one more iff the doc's
    hash bucket falls under the fractional remainder.  Documents with
    ``n_copies = 0`` are dropped (downsampled languages), ``> 1`` are
    flagged for replication by the packing stage (upsampled languages);
    the EXPECTED multiplicity per language is exactly weight_ppm/1e6.
    This is the decision step every mixture pipeline (temperature
    sampling, DoReMi-style reweighting) runs between computing weights
    and materializing the training corpus.

    Determinism contract: the draw is a second Knuth multiplicative
    hash of doc_id (a DIFFERENT multiplier than ``sample_split``'s, so
    mixture membership is independent of split membership) reduced to a
    ppm bucket — pure integer arithmetic, identical in both engines,
    reproducible across runs/partitionings, and growth-stable (a doc's
    multiplicity never changes when OTHER docs of its language keep the
    same weight).  The multiply rides in DECIMAL(38,0)/HUGEINT — the
    bare BIGINT product overflows at doc_id ~3.5e9, inside 100 TB
    corpus range (same guard as ``sample_split``).

    Scale: one map-side-combined rollup to ~#languages rows, a 1-row
    totals cross join, then a ZERO-SHUFFLE broadcast join of the
    weights back onto the corpus scan — the decision itself never
    shuffles a document."""
    docs = load_table(spark, sf_dir, "documents")
    weights = _lang_weights(docs).select("lang", "weight_ppm")
    bucket_ppm = (
        F.expr(
            f"CAST(CAST(doc_id AS DECIMAL(38,0)) * {_MIX_MULT}"
            f" % {_MIX_MOD} AS BIGINT)"
        )
        % _PPM
    )
    n_copies = F.expr(f"weight_ppm div {_PPM}").cast("bigint") + F.when(
        bucket_ppm < F.col("weight_ppm") % _PPM, 1
    ).otherwise(0)
    return (
        # broadcast-safe: weights has one row per language — bounded
        # by the language-code domain, not the corpus
        docs.join(F.broadcast(weights), "lang")
        .select(
            "doc_id",
            "lang",
            "weight_ppm",
            n_copies.cast("bigint").alias("n_copies"),
        )
        .where(F.col("n_copies") >= 1)
    )


@query(
    "corpus_mixture_entropy",
    oracle="""
    WITH per_src AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ),
    per_lang AS (
      SELECT lang,
             sum(n)                                   AS n_docs,
             sum(n * n)                               AS sum_sq,
             sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000)
                          AS BIGINT))                 AS sum_nlnq
      FROM per_src GROUP BY lang
    ),
    tot AS (SELECT sum(n_docs) AS total FROM per_lang)
    SELECT lang,
           CAST(n_docs AS BIGINT)                          AS n_docs,
           CAST(n_docs * 10000 // total AS BIGINT)         AS share_bp,
           CAST(sum_sq * 10000 // (n_docs * n_docs) AS BIGINT)
                                                           AS herfindahl_bp,
           CAST(CAST(floor(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_nlnq // n_docs AS BIGINT)            AS entropy_micro_nats
    FROM per_lang, tot
    """,
)
def corpus_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture health diagnostics per language — the "is my
    training mix collapsing onto one source" monitor that pairs with
    ``mixture_lang_weights`` (which RESHAPES the mix; this MEASURES
    it): document share in basis points, source-concentration
    Herfindahl index (Σp² in bp: 10000 = single-source monoculture,
    10000/k = k uniform sources), and source-mix Shannon entropy.

    Entropy rides the exact identity ``H = ln N − (Σ n·ln n)/N`` and a
    QUANTIZED log: each ``ln(n)`` is floored to integer micro-nats
    once per distinct count, so the Σ is a BIGINT — the naive
    ``sum(n·ln n)`` of raw doubles is accumulation-order-dependent
    (different partition merge orders flip last ulps), which is
    exactly what the differential harness exists to catch.  The
    operator CONTRACT is the quantized formula; the quantization error
    is < 1 micro-nat per term.

    Scale: two map-side-combined hash rollups ((lang,source) →
    lang, both tiny keyspaces) + a 1-row total broadcast back —
    single scan, no wide shuffle.  Reference heritage: none (SURVEY
    §2 charter extension, corpus-diagnostics family)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    lnq = F.floor(F.log(F.col("n").cast("double")) * 1000000).cast("bigint")
    per_lang = per_src.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.sum(F.col("n") * lnq).alias("sum_nlnq"),
    )
    tot = per_lang.agg(F.sum("n_docs").alias("total"))
    ln_n_docs = F.floor(
        F.log(F.col("n_docs").cast("double")) * 1000000
    ).cast("bigint")
    # broadcast-safe: tot is a 1-row scalar re-aggregate
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr("n_docs * 10000 div total").cast("bigint").alias("share_bp"),
        # DECIMAL(38,0): sum_sq*10000 blows int64 once a (lang,source)
        # group passes ~3e7 docs — DuckDB's HUGEINT sums survive
        # oracle-side, so ANSI Spark would diverge exactly at scale
        # (the agg_linear_trend quadratic-moment trap)
        F.expr(
            "CAST(sum_sq AS DECIMAL(38,0)) * 10000"
            " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)"
        )
        .cast("bigint")
        .alias("herfindahl_bp"),
        (
            ln_n_docs
            - F.expr("CAST(sum_nlnq AS DECIMAL(38,0)) div n_docs").cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("entropy_micro_nats"),
    )


#: overlapping chunker geometry: window of 24 tokens, stride 12 (50%
#: overlap) — the standard RAG retrieval-chunk shape
OVERLAP_WIN = 24
OVERLAP_STRIDE = 12


@query(
    "pack_chunks_overlap",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, len(w) AS n_tokens,
             CASE WHEN len(w) = 0 THEN 0
                  WHEN len(w) <= {OVERLAP_WIN} THEN 1
                  ELSE 1 + CAST(ceil((len(w) - {OVERLAP_WIN})
                                     / {OVERLAP_STRIDE}.0) AS BIGINT)
             END AS n_chunks,
             w
      FROM ws
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CASE WHEN n_chunks = 0 THEN NULL
                ELSE md5(array_to_string(w[1 : {OVERLAP_WIN}], ' '))
           END AS first_chunk_fp,
           CASE WHEN n_chunks = 0 THEN NULL
                ELSE md5(array_to_string(
                    w[(n_chunks - 1) * {OVERLAP_STRIDE} + 1 :
                      (n_chunks - 1) * {OVERLAP_STRIDE} + {OVERLAP_WIN}], ' '))
           END AS last_chunk_fp
    FROM g
    """,
)
def pack_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING sliding-window chunker — the RAG-standard
    {OVERLAP_WIN}-token window with {OVERLAP_STRIDE}-token stride (50%
    overlap), the retrieval-side sibling of ``dedup_chunk_exact``'s
    disjoint chunks and ``pack_concat_chunks``'s training-sequence
    packing: every token (past the first window) appears in exactly
    two chunks, so a retrieval hit never dangles at a chunk boundary.
    Emits per-doc chunk geometry (count from the closed-form
    ceil((n-win)/stride) + 1) plus the first/last chunk fingerprints —
    the md5s pin that BOTH engines slice identical window extents at
    identical offsets (an off-by-one in either the stride arithmetic
    or the slice bounds flips the hash).  All chunking is pure
    projection (``transform(sequence(...))`` over the token array →
    slice → md5 — no UDF, no explode needed for the geometry), so the
    operator is scan-bound at any scale; materializing the full chunk
    relation for an index build is the same expression followed by
    ``explode``.  Reference heritage: none (SURVEY §2 charter
    extension, packing family)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    n_tok = F.size(w)
    n_chunks = (
        F.when(n_tok == 0, F.lit(0))
        .when(n_tok <= OVERLAP_WIN, F.lit(1))
        .otherwise(
            1
            + F.ceil(
                (n_tok - F.lit(OVERLAP_WIN)) / F.lit(float(OVERLAP_STRIDE))
            )
        )
        .cast("bigint")
    )
    base = docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_chunks.alias("n_chunks"),
        w.alias("w"),
    )
    first_fp = F.md5(F.concat_ws(" ", F.slice("w", 1, OVERLAP_WIN)))
    last_fp = F.md5(
        F.concat_ws(" ", F.expr(f"slice(w, (n_chunks - 1) * {OVERLAP_STRIDE} + 1, {OVERLAP_WIN})"))
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.when(F.col("n_chunks") == 0, F.lit(None)).otherwise(first_fp).alias("first_chunk_fp"),
        F.when(F.col("n_chunks") == 0, F.lit(None)).otherwise(last_fp).alias("last_chunk_fp"),
    )


#: training-token budget as a multiple of the corpus's own token mass
#: (scale-free: the plan is interesting exactly when some languages
#: must repeat — 2× guarantees epochs > 1 for the upweighted tail)
BUDGET_X = 2


@query(
    "corpus_token_budget_plan",
    oracle=f"""
    WITH t AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({_NTOK_SQL}) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens FROM t),
    s AS (
      SELECT lang, n_docs, avail_tokens, total_tokens,
             CAST(round(1000000 * sqrt(CAST(n_docs AS DOUBLE)))
                  AS BIGINT) AS s_micro
      FROM t, tot
    ),
    ssum AS (SELECT CAST(sum(s_micro) AS BIGINT) AS s_total FROM s)
    SELECT lang, n_docs, avail_tokens,
           CAST((CAST({BUDGET_X} AS HUGEINT) * total_tokens * s_micro)
                // s_total AS BIGINT)                     AS target_tokens,
           CAST((CAST({BUDGET_X} AS HUGEINT) * total_tokens * s_micro * 1000)
                // (CAST(s_total AS HUGEINT) * avail_tokens)
                AS BIGINT)                                AS epochs_milli
    FROM s, ssum
    WHERE avail_tokens > 0
    """,
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data RECIPE plan — the rollup that turns a mixture
    policy into per-language token quotas and repeat counts, the
    planning step every curated pretraining run does before packing
    (how many epochs of each under-represented language fit the
    budget): total budget = {BUDGET_X}× the corpus's own token mass,
    split by the TEMPERATURE shares of ``mixture_temperature_weights``
    (α = ½ — same quantized-√n micro-unit device, composed verbatim),
    yielding ``target_tokens`` per language and ``epochs_milli`` =
    target/available in exact milli-epochs (> 1000 ⇒ that language's
    data repeats — the Muennighoff-style data-constrained regime made
    explicit).

    Engine-exactness: the availability rollup is integer token counts
    (whitespace ``\\S+`` grain, the ``pack_*`` contract); the share
    arithmetic reuses the correctly-rounded-√ micro-unit trick, and
    both ratios are single integer floor divisions, HUGEINT
    oracle-side / DECIMAL(38,0) Spark-side (at 10¹² tokens the epochs
    numerator reaches ~10³⁴ — inside both).  Scale: one map-side
    token-count rollup to #languages rows, two 1-row broadcasts;
    nothing else touches the corpus.  Reference heritage: none
    (SURVEY §2 charter extension, mixture/packing family)."""
    t = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(_ntok()).cast("bigint").alias("avail_tokens"),
        )
    )
    tot = t.agg(F.sum("avail_tokens").cast("bigint").alias("total_tokens"))
    # broadcast-safe: 1-row global aggregates
    s = t.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "avail_tokens",
        "total_tokens",
        F.round(F.lit(1000000) * F.sqrt(F.col("n_docs").cast("double")))
        .cast("bigint")
        .alias("s_micro"),
    )
    ssum = s.agg(F.sum("s_micro").cast("bigint").alias("s_total"))
    return (
        # broadcast-safe: ssum is a 1-row global aggregate
        s.crossJoin(F.broadcast(ssum))
        .where(F.col("avail_tokens") > 0)
        .select(
            "lang",
            "n_docs",
            "avail_tokens",
            F.expr(
                f"CAST((CAST({BUDGET_X} AS DECIMAL(38,0)) * total_tokens"
                " * s_micro) div s_total AS BIGINT)"
            ).alias("target_tokens"),
            F.expr(
                f"CAST((CAST({BUDGET_X} AS DECIMAL(38,0)) * total_tokens"
                " * s_micro * 1000)"
                " div (CAST(s_total AS DECIMAL(38,0)) * avail_tokens)"
                " AS BIGINT)"
            ).alias("epochs_milli"),
        )
    )


from mapreduceplusplus_spark.llm.textstats import NLL_CTES  # noqa: E402


@query(
    "corpus_curriculum_stages",
    oracle=f"""
    WITH {NLL_CTES},
    x AS (SELECT doc_id, n_bigrams, nll_micro_nats AS x FROM nll),
    st AS (SELECT count(*) AS n,
                  CAST(sum(x) AS HUGEINT) AS s,
                  CAST(sum(x * x) AS HUGEINT) AS ss
           FROM x),
    b AS (
      SELECT doc_id, n_bigrams, x,
             CAST(x AS HUGEINT) * n - s AS d,
             n * ss - s * s          AS v
      FROM x CROSS JOIN st
    )
    SELECT CAST(CASE WHEN d < 0 AND d * d >= v THEN 1
                     WHEN d <= 0 THEN 2
                     WHEN d * d < v THEN 3
                     ELSE 4 END AS BIGINT)      AS stage,
           CAST(count(*) AS BIGINT)             AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT)       AS total_bigrams,
           CAST(min(x) AS BIGINT)               AS min_nll,
           CAST(max(x) AS BIGINT)               AS max_nll
    FROM b GROUP BY 1
    """,
)
def corpus_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging by statistical difficulty — partition the
    corpus into 4 stages by where each document's bigram-LM NLL
    (``doc_nll``, the shared CCNet-style score) falls relative to the
    corpus mean ± one standard deviation: stage 1 (z ≤ −1, the
    easy/most-predictable quarter a curriculum schedule feeds first),
    2 (−1 < z ≤ 0), 3 (0 < z ≤ 1... strictly, z < 1), 4 (z ≥ 1, the
    hardest/noisiest tail that is ALSO the quality-filter suspect
    list).  Per stage: document count, bigram mass, NLL range.

    Exactness device — z-bands WITHOUT computing z: with n, S = Σx,
    SS = Σx² over integer micro-nat scores, ``z ≥ 1  ⟺  D ≥ 0 ∧ D² ≥ V``
    where ``D = n·x − S`` and ``V = n·SS − S²`` (= n²·σ²) — both exact
    integers (DECIMAL(38,0) Spark-side / HUGEINT oracle-side for the
    squares), so stage assignment involves NO sqrt, NO float, and no
    quantile sort: unlike an ntile(4) curriculum, which needs a global
    rank (single-partition window — a genuine 100 TB scale-killer),
    this is two scan-shaped aggregates (the 1-row moment frame
    broadcast back) and a map-side CASE.  Ties: z = −1 exactly lands
    in stage 1, z = 0 in stage 2, z = 1 in stage 4 — pinned by the
    integer comparisons identically on both engines.
    Reference heritage: none (SURVEY §2 charter extension, corpus
    family)."""
    from mapreduceplusplus_spark.llm.textstats import doc_nll

    # materialized once: the doc-sized score frame feeds BOTH the
    # 1-row moment aggregate and the banding pass inside
    # curriculum_stage_of — without it the doc_nll scoring join
    # (corpus-sized) re-executes per consumer (plan audit r13)
    x = truncate(
        doc_nll(spark, sf_dir)
        .select("doc_id", "n_bigrams", F.col("nll_micro_nats").alias("x"))
    )
    return (
        curriculum_stage_of(x)
        .groupBy(F.col("stage").cast("bigint").alias("stage"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.min("x").cast("bigint").alias("min_nll"),
            F.max("x").cast("bigint").alias("max_nll"),
        )
    )


def curriculum_stage_of(x: DataFrame) -> DataFrame:
    """Append the integer-exact z-band ``stage`` column to a frame
    with a BIGINT score column ``x`` (see ``corpus_curriculum_stages``
    for the D/V invariants).  Separated so the boundary semantics
    (z = −1 → stage 1, z = 0 → stage 2, z = 1 → stage 4) are pinned on
    constructed score sets in ``tests/test_packing.py``."""
    stats = x.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("ss"),
    )
    # broadcast-safe: stats is a 1-row moment aggregate
    b = (
        x.crossJoin(F.broadcast(stats))
        .withColumn("d", F.expr("CAST(x * n - s AS DECIMAL(38,0))"))
        .withColumn(
            "v",
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * ss"
                " - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"
            ),
        )
    )
    stage = (
        F.when((F.col("d") < 0) & (F.col("d") * F.col("d") >= F.col("v")), 1)
        .when(F.col("d") <= 0, 2)
        .when(F.col("d") * F.col("d") < F.col("v"), 3)
        .otherwise(4)
    )
    return b.withColumn("stage", stage).drop("n", "s", "ss", "d", "v")


from mapreduceplusplus_spark.llm.bpe import (  # noqa: E402
    BPE_N_MERGES,
    _bpe_sql_ctes,
    _bpe_state,
)


@query(
    "corpus_token_budget_plan_bpe",
    oracle=f"""
    WITH {_bpe_sql_ctes()},
    pieces AS (
      SELECT w, CAST(count(*) AS BIGINT) AS np
      FROM seg{BPE_N_MERGES} GROUP BY w),
    tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents),
    t AS (
      SELECT tk.lang,
             CAST(count(DISTINCT tk.doc_id) AS BIGINT) AS n_docs,
             CAST(sum(p.np) AS BIGINT) AS avail_tokens
      FROM tok tk JOIN pieces p ON p.w = tk.w
      GROUP BY tk.lang
    ),
    tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens FROM t),
    s AS (
      SELECT lang, n_docs, avail_tokens, total_tokens,
             CAST(round(1000000 * sqrt(CAST(n_docs AS DOUBLE)))
                  AS BIGINT) AS s_micro
      FROM t, tot
    ),
    ssum AS (SELECT CAST(sum(s_micro) AS BIGINT) AS s_total FROM s)
    SELECT lang, n_docs, avail_tokens,
           CAST((CAST({BUDGET_X} AS HUGEINT) * total_tokens * s_micro)
                // s_total AS BIGINT)                     AS target_tokens,
           CAST((CAST({BUDGET_X} AS HUGEINT) * total_tokens * s_micro * 1000)
                // (CAST(s_total AS HUGEINT) * avail_tokens)
                AS BIGINT)                                AS epochs_milli
    FROM s, ssum
    WHERE avail_tokens > 0
    """,
)
def corpus_token_budget_plan_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_token_budget_plan`` in SUBWORD units — the same
    temperature-share quota math over per-language BPE token mass
    instead of whitespace counts, closing the realism gap the
    whitespace planner's own docstring concedes ("overstates capacity
    by the fertility ratio"): a language whose words fragment into
    many pieces (fertility ≫ 1, `text_bpe_fertility`) consumes more of
    the context budget per word, so its quota and epoch count must be
    planned in the units the trainer actually spends.

    Availability = the vocab-bounded pieces lookup of
    ``text_token_count_bpe`` (word → |segmentation| derived once from
    the trained merges; application is explode → hash join → per-lang
    agg — no per-document BPE scan anywhere), over the alphabetic
    token stream the vocabulary was trained on; ``n_docs`` counts
    documents with ≥ 1 such token.  Shares/quotas are the planner's
    exact-integer chain verbatim (quantized-√n micro shares, HUGEINT /
    DECIMAL(38,0) floor divisions).  At 100 TB: one explode + one
    vocab-key join + a #languages rollup; the merges relation is the
    one-time training artifact.  Reference heritage: none (SURVEY §2
    charter extension, mixture/packing family)."""
    from mapreduceplusplus_spark.llm.dedup import tokens

    _merges, seg = _bpe_state(spark, sf_dir)
    pieces = seg.groupBy("w").agg(F.count("*").cast("bigint").alias("np"))
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    t = (
        tok.join(pieces, "w")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("np").cast("bigint").alias("avail_tokens"),
        )
    )
    tot = t.agg(F.sum("avail_tokens").cast("bigint").alias("total_tokens"))
    # broadcast-safe: 1-row global aggregates (same shape as the
    # whitespace planner)
    s = t.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "avail_tokens",
        "total_tokens",
        F.round(F.lit(1000000) * F.sqrt(F.col("n_docs").cast("double")))
        .cast("bigint")
        .alias("s_micro"),
    )
    ssum = s.agg(F.sum("s_micro").cast("bigint").alias("s_total"))
    return (
        # broadcast-safe: ssum is a 1-row global aggregate
        s.crossJoin(F.broadcast(ssum))
        .where(F.col("avail_tokens") > 0)
        .select(
            "lang",
            "n_docs",
            "avail_tokens",
            F.expr(
                f"CAST((CAST({BUDGET_X} AS DECIMAL(38,0)) * total_tokens"
                " * s_micro) div s_total AS BIGINT)"
            ).alias("target_tokens"),
            F.expr(
                f"CAST((CAST({BUDGET_X} AS DECIMAL(38,0)) * total_tokens"
                " * s_micro * 1000)"
                " div (CAST(s_total AS DECIMAL(38,0)) * avail_tokens)"
                " AS BIGINT)"
            ).alias("epochs_milli"),
        )
    )
