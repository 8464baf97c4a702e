"""End-to-end training-data cleaning pipeline — the operators of
``llm/textstats.py`` and ``llm/dedup.py`` composed into ONE declarative
plan, the shape a real C4/Gopher-style corpus cleaning job has.

The point of this module is compositionality: each stage is the same
expression the standalone operator query uses, and because everything is
Catalyst expressions the WHOLE pipeline is one narrow projection chain +
exactly ONE shuffle (the dedup window) — Catalyst fuses the quality
scoring, language gating, and fingerprinting into a single
whole-stage-codegen pass over the scan.  A 100 TB cleaning run is
scan-bound, as it should be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import load_table

#: minimum blended quality score to survive (same formula as
#: ``text_quality_score``)
QUALITY_MIN = 0.5
#: languages admitted to the training set
KEEP_LANGS = ("en", "de", "fr")
#: the language gate as SQL, DERIVED from KEEP_LANGS so editing the
#: tuple moves the Spark plans AND every oracle together (review r7s4:
#: three hand-copied IN-lists could silently diverge)
_KEEP_LANGS_SQL = "lang IN (" + ", ".join(f"'{l}'" for l in KEEP_LANGS) + ")"

#: the scoring+fingerprint CTE, ONE SQL definition shared by all three
#: pipeline oracles (clean, end2end, drop_reasons) — the Spark side
#: already shares ``_scored_docs``; review r7s4: three hand-copied SQL
#: versions of the quality blend could silently drift apart, which is
#: exactly the divergence the drop-reason manifest exists to rule out
_SCORED_SQL = """scored AS (
      SELECT doc_id, lang,
             round(0.5 * (CASE WHEN n_chars > 0
                       THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n_chars
                       ELSE 0 END)
             + 0.3 * (CASE WHEN len(ws) > 0
                       THEN len(list_filter(ws, t -> list_contains(
                            ['the','and','of','to','a','in','is','it'], t))) * 1.0 / len(ws)
                       ELSE 0 END)
             + 0.2 * least(len(ws) / 100.0, 1.0), 3) AS quality,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_fp
      FROM (SELECT doc_id, lang, n_chars, text,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    )"""


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH {_SCORED_SQL},
    gated AS (
      SELECT * FROM scored
      WHERE quality >= {QUALITY_MIN}
        AND {_KEEP_LANGS_SQL}
    )
    SELECT doc_id, lang, quality, n_tokens
    FROM (SELECT *, row_number() OVER (PARTITION BY bag_fp
                                       ORDER BY quality DESC, doc_id) AS rn
          FROM gated)
    WHERE rn = 1
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical cleaning pipeline, one plan:

    1. **score** — the ``text_quality_score`` blend (alpha ratio,
       stopword ratio, saturating length prior), computed inline;
    2. **gate** — drop documents below ``QUALITY_MIN`` or outside
       ``KEEP_LANGS`` (narrow filter, fused into the scan pass);
    3. **dedup** — bag-of-words fingerprint (``text_fingerprint``'s
       ``bag_fp``) with a deterministic keeper: the HIGHEST-quality doc
       per fingerprint, doc_id tiebreak — note the keeper policy is
       quality-aware, which is why dedup runs AFTER scoring.

    One shuffle total (the fingerprint window).  Filters run before the
    shuffle, so only surviving documents are ever exchanged — at 100 TB
    the quality gate typically drops 30-60% of bytes before any network
    cost is paid."""
    ensure_utc(spark)
    scored = _scored_docs(spark, sf_dir)
    gated = scored.where(
        (F.col("quality") >= QUALITY_MIN) & F.col("lang").isin(*KEEP_LANGS)
    )
    w = Window.partitionBy("bag_fp").orderBy(F.col("quality").desc(), "doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "quality", "n_tokens")
    )


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, quality, n_tokens, bag_fp) — the shared scoring +
    fingerprinting projection both pipeline queries build on.  Pure
    narrow expressions; Catalyst fuses it into the scan pass."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    d = docs.select("doc_id", "lang", "n_chars", "text", ws.alias("ws"))

    alpha_ratio = F.when(
        F.col("n_chars") > 0,
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")) * 1.0 / F.col("n_chars"),
    ).otherwise(0.0)
    stop_hits = F.size(
        F.filter("ws", lambda t: t.isin("the", "and", "of", "to", "a", "in", "is", "it"))
    )
    stop_ratio = F.when(F.size("ws") > 0, stop_hits * 1.0 / F.size("ws")).otherwise(0.0)
    quality = F.round(
        0.5 * alpha_ratio
        + 0.3 * stop_ratio
        + 0.2 * F.least(F.size("ws") / 100.0, F.lit(1.0)),
        3,
    )
    return d.select(
        "doc_id",
        "lang",
        quality.alias("quality"),
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct("ws")))).alias("bag_fp"),
    )


#: eval holdout used by the decontamination stage (mirrors
#: ``llm/dedup.py`` EVAL_MOD — doc_id % 7 == 0 stands in for the
#: benchmark set)
_EVAL_MOD = 7
#: Knuth split constants, duplicated in the oracle below
_E2E_MULT = 2654435761
_E2E_MOD = 4294967296


@query(
    "pipeline_corpus_end2end",
    oracle=f"""
    WITH {_SCORED_SQL},
    eval_fp AS (
      SELECT DISTINCT bag_fp FROM scored WHERE doc_id % {_EVAL_MOD} = 0
    ),
    gated AS (
      SELECT * FROM scored
      WHERE quality >= {QUALITY_MIN}
        AND {_KEEP_LANGS_SQL}
        AND doc_id % {_EVAL_MOD} <> 0
    ),
    kept AS (
      SELECT doc_id, lang, quality, n_tokens, bag_fp
      FROM (SELECT *, row_number() OVER (PARTITION BY bag_fp
                                         ORDER BY quality DESC, doc_id) AS rn
            FROM gated)
      WHERE rn = 1
    ),
    decon AS (
      SELECT k.* FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM eval_fp e WHERE e.bag_fp = k.bag_fp)
    )
    SELECT doc_id, lang, quality, n_tokens,
           CAST(CAST(doc_id AS HUGEINT) * {_E2E_MULT} % {_E2E_MOD}
                AS BIGINT) % 100 AS bucket,
           CASE WHEN CAST(CAST(doc_id AS HUGEINT) * {_E2E_MULT}
                          % {_E2E_MOD} AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(CAST(doc_id AS HUGEINT) * {_E2E_MULT}
                          % {_E2E_MOD} AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM decon
    """,
)
def pipeline_corpus_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production corpus job — ``clean → decontaminate →
    split`` composed into ONE declarative plan (the workflow the
    charter describes: score, gate, dedup, scrub eval leakage, assign
    train/val/test).  Each stage is the same expression its standalone
    query uses (``pipeline_clean_corpus``, ``dedup_decontaminate``,
    ``sample_split``); composing them costs NO extra shuffles:

    - score + gate + fingerprint: narrow, fused into the scan pass;
      the eval holdout (``doc_id % 7 == 0``) is excluded from the
      training side BEFORE any exchange;
    - dedup keeper: the one real shuffle (window by ``bag_fp``);
    - decontamination: LEFT ANTI join against the DISTINCT eval
      fingerprints — eval side is tiny (benchmarks, not corpora), so
      it broadcasts and the anti join is map-side; its own distinct is
      a micro-shuffle of fingerprints only;
    - split: pure integer-hash projection, zero shuffle.

    ⇒ one full-data shuffle + one fingerprint-sized micro-shuffle at
    any scale; a 100 TB run is scan-bound.  The DuckDB oracle composes
    the same stages in SQL, so the whole pipeline is value-hash
    checked end-to-end."""
    ensure_utc(spark)
    scored = _scored_docs(spark, sf_dir)
    eval_fp = (
        scored.where(F.col("doc_id") % _EVAL_MOD == 0).select("bag_fp").distinct()
    )
    gated = scored.where(
        (F.col("quality") >= QUALITY_MIN)
        & F.col("lang").isin(*KEEP_LANGS)
        & (F.col("doc_id") % _EVAL_MOD != 0)
    )
    w = Window.partitionBy("bag_fp").orderBy(F.col("quality").desc(), "doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "quality", "n_tokens", "bag_fp")
    )
    # no broadcast HINT: the fixture's eval slice (doc_id % EVAL_MOD)
    # is a fixed FRACTION of the corpus, so eval_fp grows with it —
    # AQE picks broadcast vs shuffle-hash from the runtime size
    # (ADVICE r8)
    decon = kept.join(eval_fp, "bag_fp", "left_anti")
    # DECIMAL(38,0) multiply — the bare BIGINT product overflows at
    # doc_id ~3.47e9 (see sample_split)
    bucket = (
        F.expr(
            f"CAST(CAST(doc_id AS DECIMAL(38,0)) * {_E2E_MULT}"
            f" % {_E2E_MOD} AS BIGINT)"
        )
        % 100
    )
    return decon.select(
        "doc_id",
        "lang",
        "quality",
        "n_tokens",
        bucket.cast("bigint").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


#: per-language sampling fractions — downweight the dominant language,
#: keep the tail (the standard corpus-rebalancing move)
SAMPLE_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0}
SAMPLE_SEED = 42


@query("sample_stratified")  # no SQL oracle: Spark's Bernoulli sampler
# (seeded XORShift per partition) is not reproducible in DuckDB;
# determinism + per-stratum rate bounds pinned in tests/test_llm_ops.py
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus subsampling: ``sampleBy(lang, fractions,
    seed)`` keeps each language at its own rate — how training mixes
    rebalance dominant languages/sources without a shuffle (Bernoulli
    coin-flip per row inside the scan pass).  The seed is applied PER
    PARTITION, so the selection is reproducible for a given input
    layout (same files/splits → same rows every run) but not across
    repartitionings — for layout-independent selection, filter on
    ``xxhash64(doc_id) % k`` instead (exact-rate guarantees need the
    hash form).  At 100 TB this is a narrow map — sampling never
    justifies an exchange."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.sampleBy("lang", SAMPLE_FRACTIONS, seed=SAMPLE_SEED)


#: Knuth multiplicative hash constant (2^32 / φ) — portable integer
#: arithmetic, identical in any engine with 64-bit ints
_SPLIT_MULT = 2654435761
_SPLIT_MOD = 4294967296  # 2^32


@query(
    "sample_split",
    oracle=f"""
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(CAST(doc_id AS HUGEINT) * {_SPLIT_MULT}
                      % {_SPLIT_MOD} AS BIGINT) % 100 AS bucket
          FROM documents)
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by multiplicative
    hash of the document key — the split every training corpus needs,
    with the three properties that matter at 100 TB: (1) stateless and
    reproducible across runs/engines (pure integer arithmetic, no RNG,
    no seed files), (2) stable under corpus growth (a doc's split never
    changes when other docs are added — unlike row_number() % 100), and
    (3) a narrow zero-shuffle projection.  Unlike ``sample_stratified``
    (Bernoulli sampler, rows-only checked), this is exactly
    reproducible in any engine, so it gets a full value-hash oracle."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    # DECIMAL(38,0) multiply (HUGEINT oracle-side): the bare BIGINT
    # product overflows at doc_id ~3.47e9 — inside 100 TB corpus range
    bucket = (
        F.expr(
            f"CAST(CAST(doc_id AS DECIMAL(38,0)) * {_SPLIT_MULT}"
            f" % {_SPLIT_MOD} AS BIGINT)"
        )
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.cast("bigint").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "sample_per_group_topk_hash",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    WHERE rn <= 20
    """,
)
def sample_per_group_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample — exactly k docs per
    language, chosen by ranking on a content-independent hash of the
    key (md5 of doc_id).  The reservoir-sampling replacement for
    pipelines that need REPRODUCIBLE samples: the same rows come back
    on any engine, any partitioning, any day — unlike ``sample()``/
    reservoir approaches whose output depends on seed plumbing and
    iteration order.  Growth-stable: adding documents only displaces
    rows whose hash ranks below the newcomers.

    One window shuffle on the group key; WindowGroupLimit prunes each
    partition to k rows before the exchange, so the shuffle carries
    ~k·|groups| rows, not the corpus."""
    ensure_utc(spark)
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


#: weighted-sample parameters: uniform-grid size for the per-doc hash
#: draw (u ∈ {1..M}/M) and the sample size
_WS_M = 1_000_000
_WS_K = 64


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(CAST(doc_id AS HUGEINT) * {_SPLIT_MULT}
                  % {_SPLIT_MOD} AS BIGINT) % {_WS_M} + 1 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang,
           CAST(n_chars AS BIGINT) AS weight,
           round((CAST(u AS DOUBLE) / {_WS_M}) / n_chars, 9) + 0 AS priority,
           CAST(row_number() OVER (ORDER BY (CAST(u AS DOUBLE) / {_WS_M})
                                            / n_chars, doc_id) AS BIGINT) AS rnk
    FROM keyed
    ORDER BY (CAST(u AS DOUBLE) / {_WS_M}) / n_chars, doc_id
    LIMIT {_WS_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sample without replacement by sequential Poisson /
    priority sampling (Ohlsson 1998; Duffield-Lund-Thorup's priority
    sampling is the same key idea): each document draws a
    deterministic uniform ``u ∈ (0,1]`` from the portable Knuth hash
    of its key and is ranked by ``u / w`` — the k SMALLEST keys are
    the sample, giving inclusion probability ≈ proportional to weight
    (here ``n_chars``; in a training pipeline, a quality score).  The
    weighted counterpart of ``sample_per_group_topk_hash``'s uniform
    draw, and the SELECTION form of ``mixture_sample_apply``'s
    multiplicity reshaping: same reproducibility contract (pure
    integer hash, no RNG, growth-stable — a doc's key never changes
    when others arrive).

    Engine-exactness is why this scheme over Efraimidis-Spirakis
    (``u^(1/w)``): E-S needs a transcendental (pow/ln) whose last ulp
    can differ between engines at a selection boundary; ``u / w`` is
    ONE correctly-rounded IEEE division of exact integers — bit-equal
    everywhere — with doc_id breaking exact key ties.

    Scale: zero-shuffle keying inside the scan; the k-smallest is
    ``orderBy.limit`` → TakeOrderedAndProject (per-partition heap,
    k·P driver merge, never a global sort).  Zero-weight docs are
    excluded (u/0 is the ANSI trap, and weight 0 means "never
    sample").  Reference heritage: none (SURVEY §2 charter extension,
    sampling family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.expr(
            f"CAST(CAST(doc_id AS DECIMAL(38,0)) * {_SPLIT_MULT}"
            f" % {_SPLIT_MOD} AS BIGINT)"
        )
        % _WS_M
        + 1
    )
    # key = (u/M)/w — the documented u ∈ (0,1] sequential-Poisson
    # form (review r7s4: publishing the unscaled u/w made the
    # 'priority' column 1e6× its documented contract); two
    # correctly-rounded divisions in fixed order, identical doubles
    # on both engines
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        ((u.cast("double") / _WS_M) / F.col("n_chars")).alias("key"),
    )
    topk = keyed.orderBy("key", "doc_id").limit(_WS_K)
    w = Window.orderBy("key", "doc_id")
    return topk.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("weight"),
        (F.round("key", 9) + F.lit(0.0)).alias("priority"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


@query(
    "pipeline_drop_reasons",
    oracle=f"""
    WITH {_SCORED_SQL},
    flagged AS (
      SELECT *,
             coalesce(quality >= {QUALITY_MIN}, FALSE)   AS q_ok,
             coalesce({_KEEP_LANGS_SQL}, FALSE) AS l_ok
      FROM scored
    ),
    keepers AS (
      SELECT *,
             first_value(CASE WHEN q_ok AND l_ok THEN doc_id END)
               OVER (PARTITION BY bag_fp
                     ORDER BY (q_ok AND l_ok) DESC, quality DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING) AS keeper
      FROM flagged
    )
    SELECT doc_id, lang, quality,
           CASE WHEN NOT q_ok THEN 'low_quality'
                WHEN NOT l_ok THEN 'lang'
                WHEN doc_id <> keeper THEN 'duplicate'
                ELSE 'kept' END AS verdict,
           CASE WHEN q_ok AND l_ok AND doc_id <> keeper
                THEN keeper END AS kept_doc_id
    FROM keepers
    """,
)
def pipeline_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance/lineage manifest for the cleaning pipeline: every
    document gets a VERDICT — ``kept``, or WHY it was dropped
    (``low_quality`` before ``lang`` before ``duplicate``, first-gate-
    wins precedence), with duplicates pointing at the keeper that
    displaced them (``kept_doc_id``).  This is the governance layer a
    production corpus pipeline owes its auditors ("why is doc X not in
    the training set?") that ``pipeline_clean_corpus`` — which only
    emits SURVIVORS — cannot answer; the two share ``_scored_docs``
    and the exact keeper policy, and the consistency invariant
    (kept-set == clean-corpus output) is pinned by test.

    The keeper resolves in ONE window over all docs: ordering gated
    rows first ((q_ok AND l_ok) DESC, then the keeper policy), so the
    partition's first ``CASE``-projected doc_id is the gated keeper —
    no second pass, no join back, and partitions with no gated member
    yield NULL (their rows already carry a gate verdict).

    Scale: same single bag_fp exchange as the clean pipeline — the
    manifest costs no more than the cleaning it explains.  Reference
    heritage: none (SURVEY §2 charter extension, pipeline-governance
    family)."""
    ensure_utc(spark)
    scored = _scored_docs(spark, sf_dir)
    # coalesce(…, False): NULL lang/quality must take a DROP verdict —
    # bare 3VL lets a NULL gate fall through every WHEN into 'kept'/
    # 'duplicate', silently breaking the kept-set ≡ clean-corpus
    # invariant on BOTH engines at once (review r7s4)
    q_ok = F.coalesce(F.col("quality") >= QUALITY_MIN, F.lit(False))
    l_ok = F.coalesce(F.col("lang").isin(*KEEP_LANGS), F.lit(False))
    flagged = scored.select(
        "doc_id", "lang", "quality", "bag_fp",
        q_ok.alias("q_ok"), l_ok.alias("l_ok"),
    )
    w = (
        Window.partitionBy("bag_fp")
        .orderBy(
            (F.col("q_ok") & F.col("l_ok")).desc(),
            F.col("quality").desc(),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keeper = F.first(
        F.when(F.col("q_ok") & F.col("l_ok"), F.col("doc_id"))
    ).over(w)
    verdict = (
        F.when(~F.col("q_ok"), "low_quality")
        .when(~F.col("l_ok"), "lang")
        .when(F.col("doc_id") != keeper, "duplicate")
        .otherwise("kept")
    )
    return flagged.select(
        "doc_id",
        "lang",
        "quality",
        verdict.alias("verdict"),
        F.when(
            F.col("q_ok") & F.col("l_ok") & (F.col("doc_id") != keeper), keeper
        ).alias("kept_doc_id"),
    )


from mapreduceplusplus_spark.llm.textstats import NLL_CTES  # noqa: E402


@query(
    "pipeline_perplexity_gate",
    oracle=f"""
    WITH {NLL_CTES},
    {_SCORED_SQL},
    ranked AS (
      SELECT doc_id, nll_micro_nats,
             row_number() OVER (ORDER BY nll_micro_nats, doc_id) AS rn,
             count(*) OVER () AS n
      FROM nll
    )
    SELECT s.doc_id, s.lang, r.nll_micro_nats, s.quality,
           CASE WHEN r.rn IS NULL THEN 'no_text'
                WHEN r.rn <= r.n // 10 THEN 'ppl_low'
                WHEN r.rn > r.n - r.n // 10 THEN 'ppl_high'
                WHEN s.quality < {QUALITY_MIN} THEN 'low_quality'
                ELSE 'kept' END AS status
    FROM scored s LEFT JOIN ranked r ON r.doc_id = s.doc_id
    """,
)
def pipeline_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet perplexity GATE composed into the governed-manifest
    pattern (Wenzek et al. LREC'20 keep documents by LM-perplexity
    BAND; ``text_perplexity_bigram`` computes the score, this row
    makes the decision): every document gets exactly one status —

    - ``ppl_low``  : rank ≤ n div 10 in (nll, doc_id) order — the
      suspiciously-predictable decile (boilerplate, templated text);
    - ``ppl_high`` : rank > n − n div 10 — the gibberish decile;
    - ``low_quality``: survived the band but fails the
      ``pipeline_clean_corpus`` quality blend minimum;
    - ``kept``     : training-set material;
    - ``no_text``  : < 2 tokens, no bigram NLL defined — surfaced,
      never silently dropped (the manifest contract).

    The cutoffs are RANK statistics, not fixed NLL constants: a
    corpus-relative band survives vocabulary growth and domain drift
    where absolute thresholds rot (and rank ties are impossible in
    the (nll, doc_id) total order, so the decile edges are exact).

    Scale: the per-doc NLL frame is one bigram job
    (``llm/textstats.py::doc_nll``); the global decile ranks use THE
    two-pass bucketed rank (``range_bucket_expr`` sampling +
    per-bucket local row_number + census offsets as driver literals —
    the ``sort_global`` machinery, parallelism |buckets| not 1); the
    ORACLE instead states the ideal single-window spec, checking the
    scalable plan against unoptimized semantics.  Status is then a
    narrow CASE over (rank, n, quality) — one scoring join, no second
    pass over text.  Reference heritage: none (SURVEY §2 charter
    extension, composed-pipeline family)."""
    from mapreduceplusplus_spark.llm.textstats import doc_nll
    from mapreduceplusplus_spark.operators.aggregates import (
        census_offsets_literal,
        range_bucket_expr,
    )

    ensure_utc(spark)
    nll = truncate(doc_nll(spark, sf_dir))
    bkt = range_bucket_expr(
        spark,
        nll.select(F.col("nll_micro_nats").cast("double").alias("nd")),
        "nd",
    )
    loc = (
        nll.withColumn("nd", F.col("nll_micro_nats").cast("double"))
        .withColumn("_bkt", bkt)
        .drop("nd")
    )
    # collect the (bounded, ≤|buckets|-row) census ONCE; the offsets
    # helper gets a literal re-wrap so the aggregation job over the
    # checkpointed NLL frame runs exactly once (review r9)
    census = loc.groupBy("_bkt").agg(F.count("*").alias("_n"))
    crows = census.collect()
    n_total = sum(int(r._n) for r in crows)
    offsets = census_offsets_literal(
        spark,
        spark.createDataFrame(crows, census.schema),
        "_bkt",
        ["_n"],
        ["_off"],
    )
    w_rank = Window.partitionBy("_bkt").orderBy("nll_micro_nats", "doc_id")
    # broadcast-safe: offsets ≤ |buckets| literal rows
    ranked = (
        loc.withColumn("_lrn", F.row_number().over(w_rank))
        .join(F.broadcast(offsets), "_bkt")
        .select(
            "doc_id",
            "nll_micro_nats",
            (F.col("_off") + F.col("_lrn")).alias("rn"),
        )
    )
    cut = n_total // 10
    scored = _scored_docs(spark, sf_dir)
    m = scored.join(ranked, "doc_id", "left")
    status = (
        F.when(F.col("rn").isNull(), "no_text")
        .when(F.col("rn") <= cut, "ppl_low")
        .when(F.col("rn") > n_total - cut, "ppl_high")
        .when(F.col("quality") < QUALITY_MIN, "low_quality")
        .otherwise("kept")
    )
    return m.select(
        "doc_id", "lang", "nll_micro_nats", "quality", status.alias("status")
    )


#: per-cluster quota for the cluster-balanced subsample
_CB_QUOTA = 40


def _cluster_balanced_oracle() -> str:
    from mapreduceplusplus_spark.operators.ml import KMEANS_A2_SQL

    return f"""
    WITH {KMEANS_A2_SQL},
    census AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_n
               FROM A2 GROUP BY cid)
    SELECT r.vec_id,
           CAST(r.cid AS BIGINT) AS cid,
           CAST(r.rn AS BIGINT)  AS rn,
           c.cluster_n
    FROM (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                             vec_id) AS rn
          FROM A2) r
    JOIN census c ON c.cid = r.cid
    WHERE r.rn <= {_CB_QUOTA}
    """


@query("sample_cluster_balanced", oracle=_cluster_balanced_oracle())
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-BALANCED corpus subsample (VERDICT r12 #4): up to
    ``_CB_QUOTA`` vectors per k-means cell, the diversity-preserving
    downsample that pairs with SemDeDup in a curation stack — a uniform
    random downsample keeps the corpus's mode collapse (dominant
    clusters stay dominant); quota-per-cluster flattens the mixture
    while dedup removes the within-cluster redundancy.

    Composition of two already-proven devices, consuming the EXISTING
    SemDeDup census — zero new corpus passes:
    - the cluster gate is ``_semdedup_gate``'s memoized Lloyd
      assignment (shared code AND shared ``KMEANS_A2_SQL`` oracle CTEs,
      so the gate stays differential-checked here too);
    - the per-cluster draw is ``sample_per_group_topk_hash``'s
      deterministic hash-rank reservoir (md5 of vec_id, unique-key
      tiebreak): reproducible on any engine, any partitioning, any day,
      and growth-stable under corpus appends.

    Output: the sampled rows with their hash rank and the cluster's
    population (the balance evidence: ``rn <= quota <= cluster_n`` for
    clamped cells).  Plan: one window on cid (WindowGroupLimit prunes
    each partition to quota rows before the exchange) + the k-row
    census aggregate joined back broadcast — at 100 TB the shuffle
    carries ~k·quota rows, not the corpus."""
    ensure_utc(spark)
    from mapreduceplusplus_spark.llm.dedup import _semdedup_gate

    gate = _semdedup_gate(spark, sf_dir).select("vec_id", "cid")
    census = gate.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("cluster_n")
    )
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        gate.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CB_QUOTA)
        # broadcast-safe: census is one row per k-means cell (k = 4,
        # config-bounded — k·1 rows at any corpus size)
        .join(F.broadcast(census), "cid")
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cid"),
            F.col("rn").cast("bigint").alias("rn"),
            "cluster_n",
        )
    )


#: DSIR parameters: the target slice and the selection budget
_DSIR_TARGET_LANG = "en"
_DSIR_K = 64

_QLN_SQL = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


@query(
    "sample_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    dgl AS (
      SELECT doc_id, lang, w, count(*) AS cnt FROM tok GROUP BY ALL
    ),
    cr AS (SELECT w, sum(cnt) AS c_r FROM dgl GROUP BY w),
    ct AS (SELECT w, sum(cnt) AS c_t FROM dgl
           WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY w),
    tots AS (
      SELECT (SELECT sum(c_r) FROM cr)               AS n_r,
             (SELECT coalesce(sum(c_t), 0) FROM ct)  AS n_t,
             (SELECT count(*) FROM cr)               AS v
    ),
    lr AS (
      SELECT cr.w,
             {_QLN_SQL.format(x="coalesce(ct.c_t, 0) + 1")}
             - {_QLN_SQL.format(x="n_t + v")}
             - {_QLN_SQL.format(x="cr.c_r + 1")}
             + {_QLN_SQL.format(x="n_r + v")} AS lr_micro
      FROM cr LEFT JOIN ct ON ct.w = cr.w CROSS JOIN tots
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(sum(d.cnt) AS BIGINT)               AS n_tokens,
             CAST(sum(d.cnt * l.lr_micro) AS BIGINT)  AS dsir_micro_nats
      FROM dgl d JOIN lr l ON l.w = d.w
      GROUP BY d.doc_id
    ),
    cutoff AS (
      SELECT dsir_micro_nats AS cw, doc_id AS cd FROM scored
      ORDER BY dsir_micro_nats DESC, doc_id
      LIMIT 1 OFFSET {_DSIR_K - 1}
    )
    SELECT s.doc_id, s.n_tokens, s.dsir_micro_nats,
           coalesce(s.dsir_micro_nats > (SELECT cw FROM cutoff)
                    OR (s.dsir_micro_nats = (SELECT cw FROM cutoff)
                        AND s.doc_id <= (SELECT cd FROM cutoff)),
                    true) AS selected
    FROM scored s
    """,
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-document
    importance weight log p_target(x) − log p_raw(x) under add-one-
    smoothed bag-of-unigrams models — target = the 'en' slice, raw =
    the whole corpus — plus the deterministic top-``_DSIR_K``
    ``selected`` verdict (weight DESC, doc_id tiebreak; DSIR's Gumbel
    resampling is replaced by the rank rule so the selection is
    engine-reproducible, the same trade ``sample_weighted_priority``
    documents).

    Exactness: every log is the shared quantized-ln device
    (``qln_micro`` — floor(ln·1e6) BIGINT, evaluated once per DISTINCT
    count), so per-document weights are exact integer sums in
    micro-nats — order-independent under any partitioning, bit-equal
    to the oracle.

    Scale: one documents scan → per-(doc, lang, word) pre-reduction
    (repeated words ship once) → two Zipf-bounded model aggregates
    (target + raw counts) and three 1-row totals → the per-word
    log-ratio relation joins back on the word key → per-doc integer
    rollup.  Models stay distributed relations (the perplexity-filter
    property); the selection cutoff is ONE boundary row — found with
    TakeOrdered(k), never a global rank — broadcast back.  At 100 TB
    nothing here exceeds vocabulary-bounded state."""
    ensure_utc(spark)
    from mapreduceplusplus_spark.session import qln_micro as _qln

    from mapreduceplusplus_spark.llm.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    # materialized once: feeds the raw model, the target model AND the
    # final scoring join (the doc_nll truncate convention)
    dgl = truncate(
        tok.groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    cr = dgl.groupBy("w").agg(F.sum("cnt").alias("c_r"))
    ct = (
        dgl.where(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.sum("cnt").alias("c_t"))
    )
    tots = (
        cr.agg(
            F.sum("c_r").alias("n_r"), F.count("*").alias("v")
        )
        # broadcast-safe: both sides are 1-row scalar aggregates
        .crossJoin(
            F.broadcast(
                ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
            )
        )
    )
    lr = (
        cr.join(ct, "w", "left")
        # broadcast-safe: tots is a 1-row scalar aggregate
        .crossJoin(F.broadcast(tots))
        .select(
            "w",
            (
                _qln(F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                - _qln(F.col("n_t") + F.col("v"))
                - _qln(F.col("c_r") + 1)
                + _qln(F.col("n_r") + F.col("v"))
            ).alias("lr_micro"),
        )
    )
    scored = (
        dgl.join(lr, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lr_micro"))
            .cast("bigint")
            .alias("dsir_micro_nats"),
        )
    )
    cutoff = (
        scored.orderBy(F.desc("dsir_micro_nats"), F.asc("doc_id"))
        .limit(_DSIR_K)
        .orderBy(F.asc("dsir_micro_nats"), F.desc("doc_id"))
        .limit(1)
        .select(
            F.col("dsir_micro_nats").alias("cw"), F.col("doc_id").alias("cd")
        )
    )
    return (
        scored
        # broadcast-safe: cutoff is LIMIT 1 — at most one boundary row
        .join(F.broadcast(cutoff), F.lit(True), "left")
        .select(
            "doc_id",
            "n_tokens",
            "dsir_micro_nats",
            F.coalesce(
                (F.col("dsir_micro_nats") > F.col("cw"))
                | (
                    (F.col("dsir_micro_nats") == F.col("cw"))
                    & (F.col("doc_id") <= F.col("cd"))
                ),
                F.lit(True),
            ).alias("selected"),
        )
    )
