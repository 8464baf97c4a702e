"""Deduplication operators for LLM-training-data pipelines (SURVEY.md
§2.B rows ``dedup_exact``, ``dedup_minhash_near`` + charter extensions
``dedup_ngram_jaccard``, ``dedup_simhash``, ``dedup_embedding_cosine``).

Reference heritage: dedup is the degenerate key-grouped aggregation
(A7, reference ``src/worker.cc:208-229`` — group by key, keep one).  The
near-dup family generalizes the key: shingle sets, MinHash signatures,
SimHash fingerprints, embedding vectors.

Scale design (the 100 TB contract):
- **never all-pairs**.  Exact n-gram Jaccard joins on the *shingle*
  (inverted-index join: only documents sharing a shingle meet);
  MinHash-LSH joins on *(band, band-hash)*; SimHash joins on *16-bit
  band value*.  Candidate generation is always an equi-join Catalyst
  can hash-partition — the O(n²) cross product never materializes.
- skew: ultra-frequent shingles (stop-phrase shingles) are the hot
  keys of the inverted-index join.  The exact-Jaccard path indexes only
  each document's df-ordered PREFIX (rarest ~20% of shingles — see
  ``dedup_ngram_jaccard``), so stop-phrases never become join keys at
  all: the skew defense is structural and lossless.  AQE skew-join
  splitting backstops whatever moderate skew remains.
- everything below is JVM-side Catalyst expressions (higher-order
  array functions, ``xxhash64``) — no Python in any hot path, and all
  hashes are fixed-seed → bit-for-bit deterministic across runs and
  partitionings.
"""

from __future__ import annotations

import os
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import fixpoint, truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import sql
from mapreduceplusplus_spark.sources.index_store import ensure_store
from mapreduceplusplus_spark.sources.memo import memo
from mapreduceplusplus_spark.sources.tables import dataset_fingerprint, load_table

#: near-dup decision threshold on word-trigram Jaccard (the synthetic
#: corpus has a clean margin: planted pairs ≥ 0.9, background ≤ 0.3)
JACCARD_T = 0.8

#: MinHash configuration: 64 hash functions in 16 bands × 4 rows.
#: Collision probability at Jaccard j is 1-(1-j^4)^16 — ≥ 0.9998 at
#: j = 0.8, ≤ 0.066 at j = 0.3: the planted pairs are essentially
#: guaranteed candidates, background pairs essentially never are.
MINHASH_K, MINHASH_BANDS, MINHASH_R = 64, 16, 4

#: universal-hash family constants (r14 portable family — see
#: ``_minhash_bands``): g_i(s) = (a_i·h(s) + b_i) mod P over the
#: 40-bit md5-prefix base hash.  P = 2^40 + 15 is prime; a_i / b_i are
#: themselves md5-derived (hashlib here ≡ Spark ``md5`` ≡ DuckDB
#: ``md5`` — one definition, three evaluators), a_i 20-bit nonzero so
#: a·h + b < 2^61 stays BIGINT-exact in every engine.
_MINHASH_P = (1 << 40) + 15


def _md5_int(s: str, nibbles: int) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:nibbles], 16)


_MINHASH_A = [1 + _md5_int(f"a:{i}", 5) for i in range(MINHASH_K)]
_MINHASH_B = [_md5_int(f"b:{i}", 10) for i in range(MINHASH_K)]

#: Jaccard threshold as an exact integer ratio (t = T_NUM/T_DEN = 0.8).
#: The prefix-filter arithmetic below must round EXACTLY (a float
#: ``ceil(0.8*n)`` computes ceil(36.00000000000001) = 37 for n = 45,
#: silently shortening the prefix and breaking losslessness), so every
#: ceiling is integer division: ceil(p/q) = (p + q - 1) div q.
JACCARD_T_NUM, JACCARD_T_DEN = 4, 5

#: bound for the exact all-pairs embedding-cosine baseline: only
#: vec_id < this participate, keeping the deliberate O(n²) verify
#: stage constant-bounded at ANY scale factor (the scale path for the
#: same decision is the LSH family, not a bigger cap)
MAX_EXACT_VECS = 1024



def tokens(text_col: Column) -> Column:
    """Lower-cased ``[a-z]+`` token array."""
    return F.regexp_extract_all(F.lower(text_col), F.lit("[a-z]+"), 0)


def shingles_of_tokens(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column — pure
    Catalyst expression, no UDF.

    Formulated as ``arrays_zip`` of n shifted slices so the transform
    lambda touches ONLY its own input element.  The naive formulation
    (``transform(sequence(1, k), i -> concat(element_at(ws, i), ...))``)
    re-evaluates the *expression* bound to ``ws`` on every element
    access — if ``ws`` is an inline ``regexp_extract_all``, that is
    ~3·k regex executions per row (measured ~47 ms/doc; this version:
    ~0.3 ms/doc).  Documents with < n words yield an empty array
    (``slice`` of length 0)."""
    k = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(ws, j + 1, k) for j in range(n)])
    grams = F.transform(z, lambda x: F.concat_ws(" ", *[x[str(j)] for j in range(n)]))
    return F.array_distinct(grams)


def shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lower-cased ``[a-z]+`` tokens.
    Note: inlines the tokenizer n+1 times (once per slice + size) —
    for hot paths, materialize ``tokens()`` in a projection first and
    call ``shingles_of_tokens`` (see ``_doc_shingles``)."""
    return shingles_of_tokens(tokens(text_col), n)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with the distinct-shingle array per document,
    CACHED: the shingle expression is a higher-order-function chain
    (interpreted, not codegen'd) and every near-dup plan references it
    from several branches (posting lists, both join sides,
    verification).  Without the cache each branch re-runs the
    regex+transform from the parquet scan; with it the computation
    happens once per session and dataset version.  Memoized
    (``sources/memo.py``) rather than persisted per call: a bare
    ``.persist()`` would leak one cached frame per query invocation,
    while the memo hands every caller THE SAME persisted plan and
    ``release()`` drops it.  At 100 TB the same role is played by
    persisting the shingle table to disk (or a checkpoint) before the
    self-join."""

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return _shingle_frame(_spread(spark, docs)).persist()

    return memo(spark, sf_dir, "documents", "shingles", _build)


def _doc_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bkey) MinHash bands of ``_doc_shingles``, persisted
    once per session and dataset version: the one ``mh_bands`` memo
    that every MinHash query reads."""
    return memo(
        spark,
        sf_dir,
        "documents",
        "mh_bands",
        lambda: _minhash_bands(_doc_shingles(spark, sf_dir)).persist(),
    )


def _shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct-shingle frame over a ``(doc_id, text)``
    input — THE shingle expression, factored so the full-corpus cache
    and row-restricted consumers share one definition (r16: the
    incremental-ingest probe shingles only its batch; shingling is
    per-document, so restriction commutes with the expression)."""
    # a document has a shingle iff it has at least 3 tokens.  Catalyst
    # pushes this filter below ``_spread``'s exchange with ``ws``
    # inlined: on the token count that is one tokenizer run, where a
    # filter on ``sh`` would inline the whole shingle expression there
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    return toks.where(F.size("ws") >= 3).select(
        "doc_id", shingles_of_tokens(F.col("ws")).alias("sh")
    )


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ensure enough input splits to parallelize an expensive per-row
    expression.  The fixtures are single small parquet files → ONE scan
    partition → the whole shingle/tokenize stage runs on one core.  At
    real scale the scan has many input files and this is a no-op (the
    guard avoids adding a shuffle there); for few-file inputs the one
    tiny shuffle buys full-cluster parallelism.  The guard reads the
    file index (``inputFiles``), not ``df.rdd`` — the RDD conversion
    builds a physical plan per call, the file listing is metadata."""
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT doc_id, lang, source, n_chars,
                 row_number() OVER (PARTITION BY lang, source
                                    ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a key subset: keep ONE deterministic representative
    (lowest doc_id) per (lang, source) group — the canonical-keeper
    pattern real pipelines use instead of ``dropDuplicates`` (which keeps
    an *arbitrary* row, nondeterministic under partitioning).  Plans as a
    single hash-partitioned window; at scale this is one shuffle on the
    dedup key, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


# The ngram oracle is the IDEAL spec — every pair with full-set
# trigram Jaccard >= T, no candidate-generation artifacts — because the
# implementation's prefix+position filtering is provably LOSSLESS (see
# dedup_ngram_jaccard), so the two agree on ANY corpus, not just the
# fixtures.  (DuckDB can afford the all-pairs inverted-index join at
# oracle scale; Spark takes the filtered path.)  Module-level constant
# because the clustering oracle reuses it as its pair source.
_NGRAM_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in range(1, len(ws) - 1)])) AS s
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY da, db
    )
    SELECT da AS doc_a, db AS doc_b,
           round(i * 1.0 / (ca.n + cb.n - i), 3) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = da
    JOIN cnt cb ON cb.doc_id = db
    WHERE i * 1.0 / (ca.n + cb.n - i) >= {JACCARD_T}
    """


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, prefix: bool = True
) -> DataFrame:
    """Near-dup pairs by word-trigram Jaccard — EXACT result (every
    pair with full-set Jaccard ≥ 0.8; the oracle is the ideal spec),
    computed without ever materializing all pairs.

    Candidate generation is the canonical all-pairs-similarity prefix
    filter (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07 "scaling
    up all pairs", with PPJoin's position filter, Xiao et al. WWW'08),
    as a pure DataFrame plan:

    1. impose one GLOBAL total order on shingles: (document frequency
       ASC, hash) — rarest first;
    2. each document indexes only its PREFIX under that order: the
       first ``n - ceil(t·n) + 1`` of its ``n`` shingles (~0.2·n+1 at
       t = 0.8).  Lossless by the prefix lemma: two sets with Jaccard
       ≥ t overlap in ≥ ceil(t·max(n_a, n_b)) elements, so they MUST
       share a prefix element — a pair sharing none cannot qualify;
    3. inverted-index self-equi-join on the prefix postings only;
    4. per-pair position filter: with ``cs`` shared prefix elements
       and (imax, jmax) the positions of the LAST shared one, the true
       overlap is ≤ ``cs + min(n_a - imax, n_b - jmax)`` (every other
       common element ranks after it on both sides — if it ranked
       before a prefix member it would itself be in both prefixes).
       Prune when that bound < ceil(t/(1+t)·(n_a+n_b)), the overlap a
       qualifying pair needs.  Also lossless;
    5. exact verify on the FULL string shingle sets
       (``array_intersect``) — reported Jaccard values are exact.

    All ceilings are integer-exact ((p + q - 1) div q — float ceil
    rounds 0.8·45 up and would shorten a prefix).  Candidate keys are
    ``xxhash64`` of the shingle (8-byte shuffle keys, not ~25-byte
    phrases); a 64-bit collision can only ADD candidates or perturb
    one df count — ~2⁻⁶⁴ noise, and verification is on true strings.

    100 TB design: the prefix keeps only the ~20% RAREST shingles of
    each document as join keys, so posting lists stay short precisely
    where Zipfian text is hottest (stop-phrase shingles rank LAST and
    never enter the index) — the skew defense is structural, not a
    tunable cap, and unlike a df-cap it loses nothing on corpora where
    every shingle is moderately frequent.  Shuffle profile: explode →
    df hash-agg → join (df back to postings) → per-doc rank window →
    prefix self-join → per-pair hash-agg → verify join; every stage is
    an equi-join or hash-agg on bounded keys.

    ``prefix=False`` disables steps 2 and 4 (index EVERYTHING — the
    brute-force inverted index); ``test_dedup_prefix_invariance`` pins
    filtered == unfiltered, the empirical check of losslessness."""
    docs = _doc_shingles(spark, sf_dir)
    return _ngram_pairs(
        docs,
        prefix,
        aux=(spark, sf_dir, ("prefix_posting", prefix)),
    )


def _ngram_pairs(
    docs: DataFrame,
    prefix: bool = True,
    aux: tuple | None = None,
    *,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    raw_counts: bool = False,
) -> DataFrame:
    """Core of ``dedup_ngram_jaccard`` over an arbitrary ``(doc_id,
    sh)`` table — separated so adversarial fixtures (boundary-Jaccard
    pairs, 1-shingle docs, df ties) can exercise the prefix/position
    arithmetic directly (``tests/test_llm_ops.py``).

    ``t_num/t_den`` is the Jaccard threshold as an exact rational
    (default the module's 4/5); the prefix/position arithmetic is
    lossless at ANY threshold, which is what lets
    ``dedup_threshold_curve`` build ONE candidate set at the sweep's
    minimum.  ``raw_counts=True`` returns ``(da, db, i, u)`` —
    intersection/union sizes, unfiltered beyond the threshold — so
    callers can re-threshold exactly in integers."""

    def _build_prefix() -> DataFrame:
        p = docs.select(
            "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
        ).select("doc_id", "n", F.xxhash64("s").alias("s"))
        dfreq = p.groupBy("s").agg(F.count("*").alias("df"))
        # per-doc ranking WITHOUT a sort-based window: hash-agg the
        # (df, s) pairs back into one array per doc, sort it in memory
        # (docs hold dozens of shingles, not millions), slice to the
        # prefix, posexplode for positions — one shuffle by doc_id with
        # map-side partial aggregation, vs. the window's full
        # shuffle-and-sort of every posting row.
        ordered = (
            p.join(dfreq, "s")
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ranked"),
                F.max("n").alias("n"),
            )
        )
        # prefix length n - ceil(t*n) + 1, integer-exact:
        # ceil(t*n) = (NUM*n + DEN - 1) div DEN
        plen = (
            F.col("n")
            - F.expr(f"({t_num}*n + {t_den - 1}) div {t_den}")
            + F.lit(1)
            if prefix
            else F.col("n")
        )
        return (
            ordered.select(
                "doc_id",
                "n",
                F.posexplode(F.slice(F.col("ranked.s"), F.lit(1), plen)).alias(
                    "rn0", "s"
                ),
            )
            .select("doc_id", "s", (F.col("rn0") + 1).alias("rn"), "n")
        )

    # persisted: the prefix posting table feeds both self-join sides.
    # ``aux`` is (spark, sf_dir, memo tag); test callers pass None: no
    # persist, no memo entry to leak
    if aux:
        spark, sf_dir, tag = aux
        pre = memo(
            spark, sf_dir, "documents", tag, lambda: _build_prefix().persist()
        )
    else:
        pre = _build_prefix()
    a = pre.alias("a")
    b = pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(
            F.count("*").alias("cs"),
            F.max("a.rn").alias("imax"),
            F.max("b.rn").alias("jmax"),
            F.max("a.n").alias("na"),
            F.max("b.n").alias("nb"),
        )
    )
    if prefix:
        # required overlap ceil(t/(1+t)*(na+nb)), integer-exact with
        # t = NUM/DEN: ceil(NUM*m / (NUM+DEN))
        need = F.expr(
            f"({t_num}*(na + nb) + {t_num + t_den - 1})"
            f" div {t_num + t_den}"
        )
        cand = cand.where(
            F.col("cs")
            + F.least(F.col("na") - F.col("imax"), F.col("nb") - F.col("jmax"))
            >= need
        )
    cand = cand.select("da", "db")
    full = docs  # (doc_id, sh): the FULL string shingle sets
    pairs = cand.join(
        full.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a")), "da"
    ).join(full.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b")), "db")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    if raw_counts:
        # integer-exact re-thresholding form: keep every candidate at
        # or above t_num/t_den (i·den ≥ num·u), report (i, u) raw
        return (
            pairs.withColumn("i", inter)
            .withColumn("u", union)
            .where(F.col("i") * t_den >= t_num * F.col("u"))
            .select("da", "db", "i", "u")
        )
    return (
        pairs.withColumn("jaccard_raw", inter / union)
        .where(F.col("jaccard_raw") >= JACCARD_T)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round("jaccard_raw", 3).alias("jaccard"),
        )
    )


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) MinHash-LSH band table over a ``(doc_id,
    sh)`` shingle frame — the shared signature/banding core behind
    ``dedup_minhash_near`` (self-join form) and
    ``dedup_incremental_ingest_near`` (persisted-index form).

    Hash family (r14, ENGINE-PORTABLE — VERDICT r13 #2): the k=64
    functions are the textbook universal family over ONE md5 per
    shingle — ``g_i(s) = (a_i·h(s) + b_i) mod P`` with ``h(s)`` the
    first 10 hex nibbles of ``md5(s)`` as a 40-bit int
    (``conv(hex,16,10)`` on Spark ≡ ``('0x'||hex)::BIGINT`` in DuckDB
    — the same cross-engine md5 device as ``text_feature_hashing``),
    ``P = 2⁴⁰+15`` (prime) and the per-function constants themselves
    md5-derived: ``a_i = 1 + md5('a:i')[:5 nibbles]`` (20-bit,
    nonzero), ``b_i = md5('b:i')[:10 nibbles]`` — so BOTH engines (and
    the driver-side Python that inlines them as literals) reproduce
    the family from nothing but md5.  ``a·h + b < 2⁶¹``: BIGINT-safe.
    The multiply-mod wrap is what decorrelates the 64 orderings — a
    plain ``h1 + i·step`` double-hash family keeps shingle ORDER nearly
    invariant across i, so one unshared min-shingle kills all 16 bands
    at once (measured: a planted 0.955-Jaccard pair missed; miss
    probability collapses from the nominal (1−j⁴)¹⁶ ≈ 4·10⁻¹³ to
    ≈ 1−j).  Band key = the first 15 nibbles (60 bits) of ``md5`` over
    the band's 4 signature values colon-joined — BIGINT, so the
    incremental index's ``pk = band·NB + (bkey mod NB)`` partition
    layout is unchanged.  Replacing the r1–r13 xxhash64 family
    (Spark-only) makes the ENTIRE pipeline — signatures, banding,
    candidate join, exact-Jaccard verify — one DuckDB-expressible
    statement: ``dedup_minhash_near`` now carries a real SQL oracle
    instead of a permanent ``no_oracle`` driver row.

    Physical shape is unchanged: the 64 signature values are computed
    in a SINGLE ``aggregate()`` higher-order pass over each row's
    shingle array (accumulator = array of 64 running minima; the
    per-shingle base hash is precomputed by one nested ``transform``
    so md5 runs ONCE per shingle, not 64×) — shuffle-FREE, same plan
    class as the r7 measurement in BASELINE.md."""
    # both heavy expressions rendered as ONE parsed SQL string each
    # (r17, VERDICT r16 #7 — the r16 lsh_signature device): the
    # Column-API form issued ~300 py4j calls per invocation (two
    # 64-literal arrays + nested HOF lambda plumbing), ~0.3 s of pure
    # driver time per call site; the parsed trees are identical (same
    # aggregate/zip_with/least nodes, same BIGINT literals —
    # integer-exact by construction, pinned by
    # test_minhash_bands_sql_form_equals_column_form)
    sig = docs.select("doc_id", F.expr(_mh_sig_sql()).alias("mhs"))
    return sig.select(
        "doc_id", F.expr(_mh_band_explode_sql()).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def _mh_sig_sql() -> str:
    """The 64-minimum MinHash signature fold over a ``sh`` shingle
    array column as one SQL string — per-node identical to the
    pre-r17 Column form (see ``_minhash_bands``)."""
    a = "array(" + ", ".join(f"{int(x)}L" for x in _MINHASH_A) + ")"
    b = "array(" + ", ".join(f"{int(x)}L" for x in _MINHASH_B) + ")"
    init = (
        "array(" + ", ".join(["9223372036854775807L"] * MINHASH_K) + ")"
    )
    return (
        "aggregate("
        "transform(sh, s -> CAST(conv(substring(md5(s), 1, 10), 16, 10)"
        " AS BIGINT)), "
        f"{init}, "
        f"(acc, h) -> zip_with(acc, sequence(0, {MINHASH_K - 1}), "
        f"(m, i) -> least(m, (element_at({a}, i + 1) * h"
        f" + element_at({b}, i + 1)) % {_MINHASH_P}L)))"
    )


def _mh_band_explode_sql() -> str:
    """The banded ``(band, bkey)`` explode over a ``mhs`` signature
    column as one SQL string — per-node identical to the pre-r17
    Column form (see ``_minhash_bands``)."""
    def _sig_val(j: int) -> str:
        return (
            f"CAST(element_at(mhs, b * {MINHASH_R} + {j + 1}) AS STRING)"
        )

    joined = ", ".join(_sig_val(j) for j in range(MINHASH_R))
    return (
        f"explode(transform(sequence(0, {MINHASH_BANDS - 1}), "
        "b -> named_struct('band', b, 'bkey', "
        f"CAST(conv(substring(md5(concat_ws(':', {joined})), 1, 15),"
        " 16, 10) AS BIGINT))))"
    )


#: shared oracle CTE chain computing the (doc_id, band, bkey) MinHash
#: band table for every document — the exact md5 universal family
#: ``_minhash_bands`` evaluates; reused by the ``dedup_minhash_near``
#: and ``dedup_incremental_ingest_near`` oracles
MINHASH_BAND_CTE = f"""sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in range(1, len(ws) - 1)])) AS s
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    consts AS (
      SELECT r.i AS i,
             1 + ('0x' || substr(md5('a:' || r.i), 1, 5))::BIGINT AS a,
             ('0x' || substr(md5('b:' || r.i), 1, 10))::BIGINT AS b
      FROM range({MINHASH_K}) r(i)
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 10))::BIGINT AS h
      FROM sh
    ),
    g AS (
      SELECT doc_id, c.i AS i, min((c.a * h.h + c.b) % {_MINHASH_P}) AS mh
      FROM h CROSS JOIN consts c
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, CAST(i // {MINHASH_R} AS INTEGER) AS band,
             ('0x' || substr(md5(string_agg(CAST(mh AS VARCHAR), ':'
                                            ORDER BY i)), 1, 15))::BIGINT
               AS bkey
      FROM g GROUP BY doc_id, i // {MINHASH_R}
    )"""


@query(
    "dedup_minhash_near",
    oracle=f"""
    WITH {MINHASH_BAND_CTE},
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM band a JOIN band b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, count(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.da
      JOIN sh b ON b.doc_id = c.db AND b.s = a.s
      GROUP BY c.da, c.db
    )
    SELECT da AS doc_a, db AS doc_b,
           round(i * 1.0 / (ca.n + cb.n - i), 3) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = da
    JOIN cnt cb ON cb.doc_id = db
    WHERE i * 1.0 / (ca.n + cb.n - i) >= {JACCARD_T}
    """,
)
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection — the SCALE path for what
    `dedup_ngram_jaccard` computes exactly.

    Pipeline (all Catalyst expressions, fixed seeds, deterministic):
    1. signature: k=64 minhashes per doc via the md5-based
       Kirsch–Mitzenmacher family (see ``_minhash_bands`` — one md5
       per shingle, ``g_i = h1 + i·(2·h2+1)``);
    2. banding: 16 bands × 4 rows; band key = 60-bit md5-derived int
       of the band's 4 signature values;
    3. candidates: equi-join docs on (band_id, band_key) — only
       signature-colliding docs meet; candidate count ~ #true pairs,
       not n²;
    4. verify: exact Jaccard via array_intersect on the (bounded,
       per-doc) shingle sets, keep pairs ≥ 0.8.

    At 100 TB the only shuffles are the band-key join and the final
    pair dedup; per-doc state is O(#shingles) ≤ O(doc length).

    ORACLE (r14, VERDICT r13 #2): because every stage of the md5
    family is engine-portable, the full pipeline — signature minima,
    banding, candidate self-join, exact-Jaccard verify — is stated as
    one DuckDB SQL statement, replayed hash-exactly: the one
    historically ``no_oracle`` row in the driver contract head is now
    differential-checked like everything else.  (The oracle replays
    the LSH BANDING, not the ideal all-pairs spec — candidate
    generation artifacts are part of the contract; the recall-vs-exact
    property is pinned separately by tests/test_llm_ops.py against
    ``dedup_ngram_jaccard``.)

    Physical note: the 64 signature values are computed in a SINGLE
    ``aggregate()`` higher-order pass over each row's shingle array
    (accumulator = array of 64 running minima, one ``zip_with``/
    ``least`` step per shingle; md5 runs once per shingle in a
    preceding ``transform``).  The explode + 64×min hash-aggregation
    formulation produced identical values but paid a full shuffle of
    the exploded posting list; the per-row pass keeps the signature
    stage shuffle-FREE (~40% faster cold at sf0.1, r7 measurement)."""
    docs = _doc_shingles(spark, sf_dir)
    # persisted: the band table feeds both self-join sides
    bands = _doc_bands(spark, sf_dir)

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = cand.join(
        docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard_raw", inter / union)
        .where(F.col("jaccard_raw") >= JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 3).alias("jaccard"))
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH occ AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    wt AS (SELECT doc_id, tok, count(*) AS w FROM occ GROUP BY doc_id, tok),
    bitsig AS (
      SELECT w.doc_id, r.j,
             CASE WHEN ((('0x' || substr(md5(w.tok), (r.j // 4) + 1, 1))::BIGINT
                         >> CAST(r.j % 4 AS INTEGER)) & 1) = 1
                  THEN w.w ELSE -w.w END AS vote
      FROM wt w CROSS JOIN range(64) r(j)
    ),
    votes AS (SELECT doc_id, j, sum(vote) AS v FROM bitsig GROUP BY doc_id, j),
    fps AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN
                        CASE WHEN j = 63
                             THEN (-9223372036854775808)::HUGEINT
                             ELSE (1::BIGINT << CAST(j AS INTEGER))::HUGEINT
                        END
                      ELSE 0 END) AS BIGINT) AS fp
      FROM votes GROUP BY doc_id
    ),
    bands AS (
      SELECT f.doc_id, f.fp, r.i AS band,
             (f.fp >> CAST(16 * r.i AS INTEGER)) & 65535 AS bval
      FROM fps f CROSS JOIN range(4) r(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.fp AS fa, b.fp AS fb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 6
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit fingerprint per document
    (Charikar random-hyperplane sketch over term-frequency-weighted
    token hashes), candidates = fingerprints sharing one of four 16-bit
    bands, kept when Hamming distance ≤ 6.

    Hash family (r14, ENGINE-PORTABLE — the minhash/LSH md5 device):
    token bit j is bit ``j mod 4`` of hex nibble ``j div 4`` of
    ``md5(token)`` (the full 128-bit digest supplies all 64 bits), so
    the weighted votes, the fingerprint, the 16-bit band keys, and the
    Hamming verify are ONE DuckDB statement and the query carries a
    real oracle (was rows-only under xxhash64 r1–r13).  The
    fingerprint's BIT 63 cannot be built by ``1 << 63`` (DuckDB raises
    on the signed overflow): both engines assemble bits 0–62 and ADD
    ``−2⁶³`` when vote 63 is positive — the exact two's-complement
    value, portable.  Band extraction ``(fp >> 16·i) & 0xFFFF`` is
    arithmetic-shift-safe (the mask keeps the low 16 regardless of
    sign fill; probed identical on both engines).

    All JVM expressions: one groupBy(doc_id, token) for weights, one
    64-expression groupBy(doc_id) for the bit votes, an OR-fold into
    the fingerprint, a band equi-join, ``bit_count(a ^ b)`` for
    Hamming.  Same LSH-shaped scale profile as MinHash (band join, no
    cross product); signature is 8 bytes/doc, the cheapest of the
    sketch family."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    weighted = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
        .withColumn("hx", F.md5("tok"))
    )
    nibs = weighted.select(
        "doc_id",
        "w",
        *[
            F.conv(F.substring("hx", k + 1, 1), 16, 10)
            .cast("int")
            .alias(f"nib{k}")
            for k in range(16)
        ],
    )
    votes = nibs.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"nib{j // 4}"), j % 4)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    F.col("w"),
                ).otherwise(-F.col("w"))
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    fp = _reduce(
        Column.bitwiseOR,
        [
            F.shiftleft(F.when(F.col(f"v{j}") > 0, 1).otherwise(0).cast("long"), j)
            for j in range(63)
        ],
    ) + F.when(F.col("v63") > 0, F.lit(-9223372036854775808)).otherwise(F.lit(0))
    fps = votes.select("doc_id", fp.alias("fp"))
    bands = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("fp", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bval"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "fp", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= 6)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 3) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {MAX_EXACT_VECS} AND b.vec_id < {MAX_EXACT_VECS}
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT all-pairs baseline —
    dot product and norms via higher-order ``zip_with``/``aggregate``
    (Catalyst-visible, no UDF).  The deliberate O(n²) theta join is
    BOUNDED: only ``vec_id < MAX_EXACT_VECS`` participate (both sides,
    oracle identical), so the quadratic never grows past a fixed ≤
    ~0.5M-pair verify stage no matter the scale factor — this query is
    the exactness baseline, not a scale path.  The scale path for the
    same decision is ``sim_search_lsh`` (random-hyperplane bucketing,
    llm/similarity.py): bucket join instead of all-pairs.  Norms are
    precomputed BEFORE the join (narrow), so the quadratic stage does
    one zip_with per pair."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).where(F.col("vec_id") < MAX_EXACT_VECS)
    norm = F.sqrt(
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    emb = emb.withColumn("nrm", norm)
    a = emb.alias("a")
    b = emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos_raw", dot / (F.col("a.nrm") * F.col("b.nrm")))
        .where(F.col("cos_raw") >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_raw", 3).alias("cosine"),
        )
    )


def _cc_min_label_propagation(
    edges: DataFrame, max_rounds: int = 20
) -> tuple[DataFrame, int]:
    """Baseline connected components: iterative min-label propagation.

    ``edges`` must be the SYMMETRIC edge list (both directions present)
    with columns ``(u, v)`` and should already be persisted by the
    caller.  Every node starts labeled with itself; each round takes
    the min of its own and its neighbors' labels (one hash join
    edges⋈labels + one aggregation per round).  Converges in ≤ diameter
    rounds — O(d) rounds, so a long path costs one shuffle pair per
    hop.  Returns ``(labels(u, label), rounds)``.

    The loop is ``iterate.fixpoint`` capped at ``max_rounds``; a long
    chain overruns it, and the scale path is ``_cc_two_phase``.
    """
    def spread(labels):
        neigh = (
            edges.join(
                labels.select(
                    F.col("u").alias("v"), F.col("label").alias("vlabel")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nmin"))
        )
        new_labels = truncate(
            labels.join(neigh, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        return new_labels, changed == 0

    labels = truncate(
        edges.select("u").distinct().withColumn("label", F.col("u"))
    )
    return fixpoint(
        labels, spread, max_rounds, "connected-components min-label propagation"
    )


def _cc_two_phase(
    edges: DataFrame, max_rounds: int = 30
) -> tuple[DataFrame, int]:
    """Connected components via large-star/small-star alternation —
    the O(log n)-round MapReduce CC algorithm of Kiveris, Lattanzi,
    Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
    MapReduce and Beyond" (SoCC'14).  Unlike plain label propagation
    (O(diameter) rounds), each alternation roughly halves path
    lengths, so even an adversarial million-hop near-dup CHAIN
    converges in ~log₂ rounds — the property that makes the round cap
    safe at 100 TB.

    ``edges`` is the symmetric edge list ``(u, v)`` (caller-persisted).
    Internally the edge set is kept in canonical parent-pointer form
    (``u > v``, distinct):

    - **large-star**: per node u, connect every LARGER neighbor to
      ``m = min(Γ(u) ∪ {{u}})`` → emit ``(v, m)`` for v ∈ Γ(u), v > u.
    - **small-star**: per node u over its smaller neighbors, emit
      ``(v, m)`` for v ∈ Γ₋(u) and ``(u, m)`` with
      ``m = min(Γ₋(u) ∪ {{u}})``.

    Both steps are one groupBy-min + one equi-join — the same shuffle
    shape as a propagation round, just fewer of them.  Fixpoint =
    every component is a star rooted at its minimum node; convergence
    is detected by edge-set equality (distinct canonical form, so
    ``subtract``-count + cardinality check is exact).  Returns
    ``(labels(u, label), rounds)`` over ALL input nodes (roots label
    themselves).  The loop is ``iterate.fixpoint`` capped at
    ``max_rounds``.

    A round is TWO driver actions (the ``nxt`` truncation + ONE
    set-equality convergence probe) — the large-star intermediate
    stays a PLAN (its ``distinct`` Exchange appears identically in
    both small-star consumers, so ReuseExchange materializes it once
    inside the ``nxt`` job; lineage depth stays O(1) because the plan
    hangs off the truncated ``cur``), and the convergence probe is one
    tag-union/group/mismatch count, which is exact:
    both frames are distinct canonical edge sets, so (diff = 0 ∧
    |nxt| = |cur|) ⟺ no (u, v) row sits in exactly one side.
    """
    def alternate(cur):
        und = cur.select("u", "v").unionAll(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        # large-star: (v, min(Γ(u) ∪ {u})) for v > u — output keeps
        # the u > v invariant because m ≤ u < v
        ls = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )
        # small-star over the (u > v)-directed ls edges: attach u
        # and all its smaller neighbors to the minimum neighbor
        mins2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
        nxt = truncate(
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionAll(mins2.select("u", F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ONE convergence probe over the two cached canonical sets:
        # rows present in exactly one side (1 = only nxt, 2 = only cur)
        changed = (
            nxt.select("u", "v", F.lit(1).alias("w"))
            .unionAll(cur.select("u", "v", F.lit(2).alias("w")))
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
            .where(F.col("w") != 3)
            .count()
        )
        return nxt, changed == 0

    # consumed once, by the final labels job — no standalone action
    nodes = edges.select("u").distinct()
    cur = truncate(
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    cur, rounds = fixpoint(
        cur, alternate, max_rounds, "large-star/small-star connected components"
    )
    # at fixpoint cur is (child, root) star edges; roots have no row
    labels = nodes.join(
        cur.select("u", F.col("v").alias("root")), "u", "left"
    ).select("u", F.coalesce("root", F.col("u")).alias("label"))
    return truncate(labels), rounds


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE pr AS ({_NGRAM_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pr
      UNION ALL
      SELECT doc_b, doc_a FROM pr
    ),
    reach(u, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc_id,
           CAST(min(label) AS BIGINT) AS cluster_id,
           (min(label) = u)           AS is_canonical
    FROM reach GROUP BY u
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINAL stage of a dedup pipeline: group the near-dup PAIRS
    into duplicate CLUSTERS (connected components of the pair graph)
    and elect one canonical representative per cluster (minimum
    doc_id) — what actually decides which documents survive into the
    training set.

    Implementation: large-star/small-star alternation
    (``_cc_two_phase`` — Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): each round connects every node's
    neighborhood to its minimum via one groupBy-min + one equi-join,
    alternating the large/small orientation so path lengths roughly
    HALVE per round — O(log n) rounds instead of label propagation's
    O(diameter), so an adversarial near-dup chain of any realistic
    length converges well inside ``iterate.fixpoint``'s cap.  The
    O(diameter) min-label baseline survives as
    ``_cc_min_label_propagation`` and is
    pinned against this path in tests on a diameter-25 chain fixture.
    This is the iterative-algorithm pattern the brief names as
    legitimately non-SQL — yet it STILL gets a hard oracle: DuckDB
    computes the same components with a recursive CTE over the
    identical pair query, an entirely independent fixpoint engine.

    Labels converge to the component minimum regardless of join
    schedule, so the result is deterministic."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # the pair GENERATION (prefix-filter join + exact verify) is the
    # expensive stage; without this persist every round's neighbor join
    # AND every round's convergence count re-ran it from the scan
    # (measured 6.0→3.4 s at sf0.1, 12.1→4.6 s at the 5× fixture)
    edges = edges.persist()
    try:
        edges.count()  # materialize the persist
        labels, _rounds = _cc_two_phase(edges)
        # labels is already truncated by the helper (iterate.truncate)
        return labels.select(
            F.col("u").alias("doc_id"),
            F.col("label").cast("bigint").alias("cluster_id"),
            (F.col("label") == F.col("u")).alias("is_canonical"),
        )
    finally:
        edges.unpersist()


#: every doc_id divisible by this is "held-out eval" — the stand-in for
#: a benchmark set the training corpus must be decontaminated against
EVAL_MOD = 7


@query(
    "dedup_decontaminate",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(list_sort(list_distinct(
                 regexp_extract_all(lower(text), '[a-z]+'))), ' ')) AS bag_fp
      FROM documents
    ),
    eval_fp AS (SELECT DISTINCT bag_fp FROM fp WHERE doc_id % {EVAL_MOD} = 0)
    SELECT f.doc_id, f.source, CAST(f.n_chars AS BIGINT) AS n_chars
    FROM fp f
    WHERE f.doc_id % {EVAL_MOD} <> 0
      AND NOT EXISTS (SELECT 1 FROM eval_fp e WHERE e.bag_fp = f.bag_fp)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the train/test leakage scrub every
    serious training corpus runs: drop training documents whose
    bag-of-words fingerprint collides with ANY held-out eval document
    (here: ``doc_id % {EVAL_MOD} == 0`` stands in for the benchmark
    set; at sf0.01 that eval slice shares fingerprints with 37
    training docs, so the anti-join does actual work).

    Plan: fingerprint both sides from ONE scan (16-byte md5 of the
    sorted distinct token bag — order/whitespace-insensitive), then a
    LEFT ANTI join of the training side against the DISTINCT eval
    fingerprints.  The eval side of any real decontamination job is
    tiny (benchmarks, not corpora) ⇒ Spark broadcasts it and the anti
    join is map-side — the 100 TB training scan never shuffles.  For
    near-duplicate (not exact-bag) contamination, compose with the
    MinHash band join (``dedup_minhash_near``) using eval docs as the
    probe side.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.array_distinct(
                        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
                    )
                ),
            )
        ).alias("bag_fp"),
    )
    eval_fp = (
        fp.where(F.col("doc_id") % EVAL_MOD == 0).select("bag_fp").distinct()
    )
    return (
        fp.where(F.col("doc_id") % EVAL_MOD != 0)
        # no broadcast HINT: a real benchmark eval set is fixed-size,
        # but this fixture's membership rule (doc_id % EVAL_MOD == 0)
        # is a fixed FRACTION of the corpus, so eval_fp grows linearly
        # with it — AQE picks broadcast vs shuffle-hash from the
        # measured runtime size instead of a compile-time promise
        # (ADVICE r8)
        .join(eval_fp, "bag_fp", "left_anti")
        .select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


@query(
    "dedup_chunk_exact",
    oracle="""
    WITH ws AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             unnest([md5(array_to_string(w[i*20+1 : i*20+20], ' '))
                     for i in range(0, CAST((len(w) + 19) // 20 AS INT))])
               AS fp
      FROM ws WHERE len(w) > 0
    ),
    freq AS (SELECT fp, count(*) AS c FROM chunks GROUP BY fp)
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT)                          AS n_chunks,
           CAST(count(*) FILTER (WHERE f.c > 1) AS BIGINT)   AS n_dup_chunks
    FROM chunks ch JOIN freq f ON f.fp = ch.fp
    GROUP BY ch.doc_id
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) exact dedup statistics — the
    fine-grained pass production pipelines run AFTER document-level
    dedup: split every document into consecutive 20-token chunks,
    fingerprint each, count corpus-wide repeats, and report per
    document how many of its chunks occur more than once anywhere
    (boilerplate headers, repeated disclaimers, template text).

    Plan: chunking is a pure projection (``transform(sequence(...))``
    over the token array → md5 per chunk — no UDF), then one explode +
    one fingerprint hash-agg + a join back keyed on the 16-byte md5.
    At 100 TB the shuffled unit is fingerprints (16 B + doc_id), never
    text; the md5 keyspace is uniform so the agg has no skew by
    construction.  Outputs are integer counts only — the dup FRACTION
    is left to the consumer, because a rounded ratio can land on an
    exact representable tie (1/16 = .0625) where engines' tie-breaking
    diverges."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).where(F.size("w") > 0)
    nc = F.expr("(size(w) + 19) div 20").cast("int")
    chunk_fps = F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice("w", i * 20 + 1, 20))),
    )
    chunks = docs.select("doc_id", F.explode(chunk_fps).alias("fp"))
    freq = chunks.groupBy("fp").agg(F.count("*").alias("c"))
    return (
        chunks.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.count(F.when(F.col("c") > 1, 1)).cast("bigint").alias("n_dup_chunks"),
        )
    )


@query(
    "join_fuzzy_editdist",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a, names b
    WHERE a.p_name < b.p_name
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join by edit distance (the entity-resolution /
    vocabulary-dedup primitive): distinct name pairs within Levenshtein
    distance 2, found WITHOUT the all-pairs product the oracle states.
    Candidate generation is the classic q-gram filter (Gravano et al.,
    VLDB'01): one edit destroys at most q positional q-grams, so
    ``dist(a,b) <= k`` forces ``shared q-grams >= max(|a|,|b|) - q + 1
    - k*q``.  With q=2, k=2 and the longer name >= 2·k + 2 = 6 chars
    (the same minimum ``editdist_pairs`` derives), a qualifying pair
    must share at least one 2-gram ((6-1)/2 = 2.5 > k) — so 2-gram
    candidate generation is provably LOSSLESS here; pairs where BOTH
    names are shorter go through ``editdist_pairs``'s bounded
    brute-force leg instead (part names in the fixture are all
    longer, so that leg is empty for this query).  Skew is bounded
    by the SAME df-ordered prefix filter ``dedup_ngram_jaccard``
    uses: a qualifying pair shares >= T = max(|a|,|b|) - 5 positional
    grams (multiset bound, items = (gram, occurrence#)), and by the
    prefix lemma two item sets intersecting in >= T elements must
    collide within each record's (n_items - T_r + 1) RAREST items
    under a global document-frequency order — per-record T_r = max(
    ln - 5, 1) <= T keeps the prefix a superset of the required one.
    Only those rarest ~min(5, ln-1) items per name post to the join,
    so a frequent gram like 'er' never builds a quadratic bucket.
    ``F.levenshtein`` and DuckDB ``levenshtein`` implement the same
    classic DP — pinned by this differential.

    Scale: explode → df census (map-side combined) → broadcast df
    back → per-name rank window (hash-partitioned by name) → prefix
    postings equi-join → exact verify on survivors only."""
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return editdist_pairs(names, max_dist=2)


def editdist_pairs(names: DataFrame, max_dist: int = 2) -> DataFrame:
    """Distinct-name pairs within Levenshtein ``max_dist``, via the
    lossless df-ordered q-gram prefix filter (q=2) described in
    ``join_fuzzy_editdist``.  ``names`` needs a single ``name``
    column.

    The gram filter is pigeonhole-lossless only when the LONGER name
    of a pair is at least ``q·max_dist + 2`` chars (q=2: length >=
    2·max_dist + 2 = 6 for max_dist=2) — a zero-shared-gram pair of
    length-L strings has distance >= (L-1)/2, which exceeds max_dist
    exactly when L >= q·max_dist + 2.  Mixed short/long pairs are
    still caught (the bound uses max(|a|,|b|), and a short name posts
    ALL its grams because its per-record prefix threshold clamps to
    1), so the only lossy regime is SHORT×SHORT pairs.  Those are
    routed through a SymSpell-style DELETE-NEIGHBORHOOD join (ADVICE
    r6: previously this precondition was documented-but-unenforced,
    silently dropping pairs): each short name expands to every string
    reachable by ≤ max_dist character deletions (≤ 16 variants at
    length ≤ 5, k = 2), and candidates are pairs sharing a variant —
    lossless, because an optimal alignment lets both sides delete
    their ≤ k non-matched characters to reach the common aligned
    subsequence.  Candidate volume tracks TRUE pair volume (e.g. all
    length-≤k names share the empty variant — but any two such names
    genuinely are within distance k), so the leg scales with output
    size rather than quadratically with the short-name count; the
    union is distinct-ed before the exact verify."""
    from pyspark.sql import Window as _W

    names = names.select("name", F.length("name").alias("ln"))
    min_len = 2 * max_dist + 2
    shorts = names.where(F.col("ln") < min_len)
    # positional 2-gram items: (gram, occurrence#) — turns the
    # multiset bound into a plain set bound
    items = (
        names.select(
            "name",
            "ln",
            F.explode(
                F.expr(
                    "transform(sequence(1, ln - 1), i -> substring(name, i, 2))"
                )
            ).alias("g"),
        )
        .groupBy("name", "ln", "g")
        .agg(F.count("*").alias("c"))
        .select(
            "name",
            "ln",
            "g",
            F.explode(F.sequence(F.lit(1), F.col("c"))).alias("occ"),
        )
    )
    df_tab = items.groupBy("g", "occ").agg(F.count("*").alias("df"))
    # broadcast-safe: df_tab keys on (bigram, occurrence#) — bounded by
    # charset^2 x max name length, not by corpus size
    ranked = items.join(F.broadcast(df_tab), ["g", "occ"]).withColumn(
        "rk",
        F.row_number().over(
            _W.partitionBy("name").orderBy("df", "g", "occ")
        ),
    )
    # prefix size = n_items - T_r + 1 with n_items = ln-1,
    # T_r = max(ln - 1 - q*max_dist, 1)
    t_r = F.greatest(F.col("ln") - 1 - 2 * max_dist, F.lit(1))
    prefix = ranked.where(F.col("rk") <= F.col("ln") - 1 - t_r + 1)
    a = prefix.select(F.col("name").alias("name_a"), "g", "occ")
    b = prefix.select(F.col("name").alias("name_b"), "g", "occ")
    cand = (
        a.join(b, ["g", "occ"])
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    # delete-neighborhood leg for the short×short regime the gram
    # filter cannot cover (see docstring): k rounds of single-char
    # deletion expansion build every ≤k-deletion variant, candidates
    # are short pairs sharing one.  A short pair sharing a gram also
    # appears in `cand`, hence the distinct after the union.
    variants = F.array(F.col("name"))
    for _ in range(max_dist):
        variants = F.array_distinct(
            F.flatten(
                F.transform(
                    variants,
                    lambda s: F.concat(
                        F.array(s),
                        F.transform(
                            F.sequence(F.lit(1), F.length(s)),
                            lambda i: F.concat(
                                F.substring(s, F.lit(1), i - 1),
                                F.substring(s, i + 1, F.length(s)),
                            ),
                        ),
                    ),
                )
            )
        )
    short_var = shorts.select(
        "name", F.explode(variants).alias("v")
    )
    short_pairs = (
        short_var.select(F.col("name").alias("name_a"), "v")
        .join(short_var.select(F.col("name").alias("name_b"), "v"), "v")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
    )
    cand = cand.union(short_pairs).distinct()
    return (
        cand.select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


@query(
    "text_eval_overlap_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, g
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(w) - 2),  -- range is upper-EXCLUSIVE
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3])
               )) AS g
        FROM toks WHERE len(w) >= 4
      )
    ),
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(e.g) AS BIGINT) AS n_dirty,
           CAST(count(e.g) * 1000000 // count(*) AS BIGINT) AS dirty_ppm
    FROM grams t
    LEFT JOIN eval_grams e ON t.g = e.g
    WHERE t.doc_id % {EVAL_MOD} <> 0
    GROUP BY t.doc_id
    """,
)
def text_eval_overlap_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured eval contamination (the GPT-3-appendix "dirtiness"
    statistic): for every TRAINING document, the fraction of its word
    4-grams that also occur anywhere in the eval split — the graded
    companion to ``dedup_decontaminate``'s boolean whole-doc filter.
    Real pipelines threshold on this rate (e.g. drop > X% dirty) and
    report the distribution in the model card; the rate is a floor-
    divided ppm BIGINT so the threshold decision is engine-exact.

    4-grams (not the paper's 13) because the fixture docs are short;
    the plan is length-independent.  Counting is per OCCURRENCE (a
    repeated dirty gram counts each time) — denominator = all 4-gram
    positions, numerator = positions whose gram is in the eval set.

    Scale: the eval gram set is benchmark-sized (small by
    construction) → one DISTINCT micro-rollup, then a broadcast LEFT
    join against the training gram stream — the 100-TB training scan
    never shuffles; per-doc rollup partial-aggregates map-side."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).where(F.size("w") >= 4)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 3),"
                " i -> concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2]))"
            )
        ).alias("g"),
    )
    eval_grams = (
        grams.where(F.col("doc_id") % EVAL_MOD == 0).select("g").distinct()
        .select(F.col("g").alias("eg"))
    )
    train = grams.where(F.col("doc_id") % EVAL_MOD != 0)
    return (
        # broadcast-safe: eval_grams models a FIXED benchmark eval set
        # — bounded by the benchmark suite, not the corpus
        train.join(F.broadcast(eval_grams), F.col("g") == F.col("eg"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count("eg").cast("bigint").alias("n_dirty"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dirty",
            F.expr("n_dirty * 1000000 div n_grams").cast("bigint").alias(
                "dirty_ppm"
            ),
        )
    )


@query(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(concat_ws(' ',
                 list_sort(regexp_extract_all(lower(text), '[a-z]+')))) AS bag_fp
      FROM documents
    ),
    corpus AS (
      SELECT DISTINCT bag_fp FROM fp WHERE doc_id % 3 <> 0
    ),
    batch AS (
      SELECT f.doc_id, f.bag_fp,
             row_number() OVER (PARTITION BY f.bag_fp
                                ORDER BY f.doc_id) AS rn
      FROM fp f WHERE f.doc_id % 3 = 0
    )
    SELECT b.doc_id,
           (c.bag_fp IS NOT NULL) AS dup_vs_corpus,
           (b.rn > 1) AS dup_in_batch,
           CASE WHEN c.bag_fp IS NOT NULL OR b.rn > 1
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM batch b
    LEFT JOIN corpus c ON b.bag_fp = c.bag_fp
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the shape PRODUCTION dedup actually
    runs: an incoming batch (``doc_id % 3 = 0`` stands in for today's
    crawl) checks against (a) the EXISTING corpus's fingerprint index
    and (b) itself, without ever rescanning corpus text.  Each batch
    doc gets both flags plus the keep/drop verdict: duplicates within
    the batch keep their lowest-doc_id representative (same
    deterministic-keeper rule as ``dedup_exact``), and anything whose
    sorted-bag-of-words md5 already exists in the corpus drops.

    Fingerprints are order-insensitive (sorted token bag → md5, the
    ``dedup_decontaminate`` convention), so re-renderings of the same
    content collide.

    Scale: the corpus leg is a STORED fingerprint table in practice
    (built once, appended per batch) — here it derives in-plan from
    the same parquet for self-containment; the batch⋈index join
    shuffles only fingerprints (16 B/doc), the in-batch window
    shuffles one day's batch, and corpus text is never touched.  This
    is why incremental dedup at 100 TB costs minutes, not a full-
    corpus rescan."""
    from pyspark.sql import Window as _W

    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(tokens(F.col("text"))))).alias(
            "bag_fp"
        ),
    )
    corpus = (
        fp.where(F.col("doc_id") % 3 != 0)
        .select(F.col("bag_fp").alias("corpus_fp"))
        .distinct()
    )
    batch = fp.where(F.col("doc_id") % 3 == 0).withColumn(
        "rn", F.row_number().over(_W.partitionBy("bag_fp").orderBy("doc_id"))
    )
    dup_corpus = F.col("corpus_fp").isNotNull()
    dup_batch = F.col("rn") > 1
    return (
        batch.join(corpus, F.col("bag_fp") == F.col("corpus_fp"), "left")
        .select(
            "doc_id",
            dup_corpus.alias("dup_vs_corpus"),
            dup_batch.alias("dup_in_batch"),
            F.when(dup_corpus | dup_batch, "drop")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


_CONTAIN_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in range(1, len(ws) - 1)])) AS s
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY da, db
    )
    SELECT da AS doc_a, db AS doc_b,
           round(i * 1.0 / ca.n, 3) AS containment
    FROM inter
    JOIN cnt ca ON ca.doc_id = da
    WHERE i * {JACCARD_T_DEN} >= {JACCARD_T_NUM} * ca.n
    """


@query("dedup_containment_quotes", oracle=_CONTAIN_ORACLE)
def dedup_containment_quotes(
    spark: SparkSession, sf_dir: str, prefix: bool = True
) -> DataFrame:
    """Asymmetric-containment detection (quote / subset dedup): ordered
    pairs (a, b) whose shingle CONTAINMENT ``|S_a ∩ S_b| / |S_a|`` is
    ≥ 0.8 — the doc-in-doc relation symmetric Jaccard cannot see (a
    200-word post quoted inside a 10,000-word page has Jaccard ≈ 0.02
    but containment ≈ 1.0).  Training-data pipelines run this ALONGSIDE
    ``dedup_ngram_jaccard``: Jaccard kills near-identical copies,
    containment kills wholesale inclusions (mirrors with boilerplate,
    quote aggregators) that would otherwise repeat verbatim passages.

    Candidate generation adapts the Bayardo/PPJoin prefix filter to the
    asymmetric threshold: only the QUERY side (a) is prefix-pruned —
    containment ≥ t needs overlap ≥ ceil(t·n_a), so if none of a's
    ``n_a − ceil(t·n_a) + 1`` rarest shingles (global df-ASC order, the
    same order ``dedup_ngram_jaccard`` builds) appears in b, the pair
    cannot qualify: lossless.  The host side (b) posts ALL its shingles
    (an asymmetric threshold gives no b-side prefix bound), but the
    join only ever probes a-PREFIX keys — by construction the rarest
    ~20% of each document — so hot Zipfian shingles never generate
    candidates and the skew defense is again structural.  Exact verify
    on the full string shingle sets; the threshold compare is the
    integer cross-multiplication ``i·5 ≥ 4·n_a`` on BOTH engines, so
    boundary pairs cannot flip.

    100 TB shuffle profile: same stages as ``dedup_ngram_jaccard``
    (explode → df hash-agg → per-doc rank → prefix⋈full postings →
    per-pair count → verify join) — every stage an equi-join or
    hash-agg; candidate volume ≈ Σ_rare-key df_prefix·df_full stays
    near the true-pair count.  Reference heritage: none (the reference
    engine has no dedup at all, SURVEY §2 charter extension)."""
    docs = _doc_shingles(spark, sf_dir)
    # persisted: the hashed posting table feeds THREE branches (the df
    # census, the per-doc rank join, and the full host-side postings)
    # — without the persist each branch re-runs the HOF explode over
    # the shingle arrays (measured 2.78 s → 2.0 s at sf0.1)
    p = memo(
        spark,
        sf_dir,
        "documents",
        "contain_postings",
        lambda: docs.select(
            "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
        )
        .select("doc_id", "n", F.xxhash64("s").alias("s"))
        .persist(),
    )
    dfreq = p.groupBy("s").agg(F.count("*").alias("df"))
    ordered = (
        p.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ranked"),
            F.max("n").alias("n"),
        )
    )
    # a-side prefix length n - ceil(t*n) + 1, integer-exact;
    # prefix=False posts EVERYTHING (brute-force inverted index) —
    # the losslessness pin compares the two
    plen = (
        F.col("n")
        - F.expr(f"({JACCARD_T_NUM}*n + {JACCARD_T_DEN - 1}) div {JACCARD_T_DEN}")
        + F.lit(1)
        if prefix
        else F.col("n")
    )
    a = ordered.select(
        F.col("doc_id").alias("da"),
        F.col("n").alias("na"),
        F.explode(F.slice(F.col("ranked.s"), F.lit(1), plen)).alias("s"),
    )
    bfull = p.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"), "s")
    cand = (
        a.join(bfull, "s")
        .where(
            (F.col("da") != F.col("db"))
            # length filter: containment ≥ t needs overlap ≥ ceil(t·n_a)
            # ≤ n_b, so a host shorter than t·n_a can never qualify —
            # drop the pair BEFORE the distinct/verify (integer
            # cross-multiplied, same bound the verify re-checks)
            & (F.col("nb") * JACCARD_T_DEN >= JACCARD_T_NUM * F.col("na"))
        )
        .select("da", "db")
        .distinct()
    )
    pairs = cand.join(
        docs.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a")), "da"
    ).join(docs.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b")), "db")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na = F.size("sh_a")
    return (
        pairs.select("da", "db", inter.alias("i"), na.alias("na"))
        .where(F.col("i") * JACCARD_T_DEN >= JACCARD_T_NUM * F.col("na"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round(F.col("i") / F.col("na"), 3).alias("containment"),
        )
    )


@query(
    "pipeline_dedup_end2end",
    oracle=f"""
    WITH RECURSIVE pr AS ({_NGRAM_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pr
      UNION ALL
      SELECT doc_b, doc_a FROM pr
    ),
    reach(u, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    clusters AS (
      SELECT u AS doc_id, min(label) AS cluster_id FROM reach GROUP BY u
    ),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
                 regexp_extract_all(lower(text), '[a-z]+'))), ' ')) AS bag_fp
      FROM documents
    ),
    eval_fp AS (SELECT DISTINCT bag_fp FROM fp WHERE doc_id % {EVAL_MOD} = 0)
    SELECT d.doc_id,
           CASE WHEN d.doc_id % {EVAL_MOD} = 0 THEN 'eval_heldout'
                WHEN c.doc_id IS NOT NULL AND c.cluster_id <> d.doc_id
                  THEN 'near_dup'
                WHEN EXISTS (SELECT 1 FROM eval_fp e WHERE e.bag_fp = f.bag_fp)
                  THEN 'contaminated'
                ELSE 'kept' END AS status,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    JOIN fp f ON f.doc_id = d.doc_id
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """,
)
def pipeline_dedup_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full document-level DEDUP pipeline as one governed job —
    the dedup-centric sibling of ``pipeline_corpus_end2end``'s
    clean→decontaminate→split: near-dup CLUSTERS (exact-Jaccard pairs
    → connected components) elect one canonical survivor each, the
    held-out eval slice is carved out, and surviving docs whose
    bag-of-words fingerprint collides with the eval set are dropped as
    contaminated — every document leaves with an auditable status
    (``eval_heldout`` / ``near_dup`` / ``contaminated`` / ``kept``),
    the per-doc governance record data-provenance reviews ask for.
    Status precedence is part of the contract (eval membership
    trumps near-dup trumps contamination) and the DuckDB oracle
    recomputes the WHOLE composition — pair generation via the
    lossless-prefix spec, components via a recursive CTE, fingerprints
    via independent SQL — in one statement.

    Plan: the cluster stage is ``dedup_cluster_canonical``'s persisted
    iterate-and-checkpoint loop (its output is a checkpointed
    doc_id-keyed table); fingerprints come from ONE documents scan;
    the eval fingerprint set is a broadcast (benchmarks are bounded,
    corpora are not); the final status is a projection over documents
    LEFT-joined to the (≪ corpus) cluster table — so the only
    full-corpus shuffles are the ones the cluster stage already pays,
    and the composition adds a broadcast hash join plus one
    doc_id-keyed join.  Reference heritage: none (SURVEY §2 charter
    extension, composed-pipeline family)."""
    clusters = dedup_cluster_canonical(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.array_distinct(
                        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
                    )
                ),
            )
        ).alias("bag_fp"),
    )
    eval_fp = (
        fp.where(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("bag_fp").alias("eval_bag_fp"))
        .distinct()
    )
    joined = (
        fp
        # no broadcast HINT: the fixture's eval slice (doc_id %
        # EVAL_MOD == 0) is a fixed FRACTION of the corpus — AQE picks
        # broadcast vs shuffle-hash from the runtime size (ADVICE r8)
        .join(
            eval_fp,
            F.col("bag_fp") == F.col("eval_bag_fp"),
            "left",
        )
        .join(clusters, "doc_id", "left")
    )
    return joined.select(
        "doc_id",
        F.when(F.col("doc_id") % EVAL_MOD == 0, F.lit("eval_heldout"))
        .when(
            F.col("cluster_id").isNotNull()
            & (F.col("cluster_id") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .when(F.col("eval_bag_fp").isNotNull(), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "dedup_decontaminate_near",
    oracle=f"""
    WITH pr AS ({_NGRAM_ORACLE}),
    contaminated AS (
      SELECT doc_b AS doc_id FROM pr
      WHERE doc_a % {EVAL_MOD} = 0 AND doc_b % {EVAL_MOD} <> 0
      UNION
      SELECT doc_a FROM pr
      WHERE doc_b % {EVAL_MOD} = 0 AND doc_a % {EVAL_MOD} <> 0
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id % {EVAL_MOD} <> 0
      AND NOT EXISTS (SELECT 1 FROM contaminated c
                      WHERE c.doc_id = d.doc_id)
    """,
)
def dedup_decontaminate_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate eval-set decontamination — the composition
    ``dedup_decontaminate``'s docstring documents but the surface
    didn't carry until r8: the exact-bag fingerprint anti-join only
    catches verbatim (token-multiset) leaks, while a benchmark item
    lightly paraphrased into the training corpus slips through.  Here
    a training document is dropped when it forms a ≥ {JACCARD_T}
    trigram-Jaccard pair with ANY held-out eval document — built on
    the SAME lossless prefix-filtered pair generation as
    ``dedup_ngram_jaccard`` (candidates ≈ true pairs, never n²), with
    the pair set post-filtered to (train, eval) sides and anti-joined
    back.  The oracle recomputes the whole thing from the ideal
    all-pairs spec, so the prefix filter's losslessness is re-proven
    on the cross-corpus slice too.

    Scale: the pair stage is the audited near-dup machinery; the
    contaminated-id set is bounded by (#eval docs × near-dup rate) —
    broadcast side of the anti-join, so the training scan never
    shuffles for the final filter.  Reference heritage: none (SURVEY
    §2 charter extension, dedup family)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    a_eval = pairs.where(
        (F.col("doc_a") % EVAL_MOD == 0) & (F.col("doc_b") % EVAL_MOD != 0)
    ).select(F.col("doc_b").alias("doc_id"))
    b_eval = pairs.where(
        (F.col("doc_b") % EVAL_MOD == 0) & (F.col("doc_a") % EVAL_MOD != 0)
    ).select(F.col("doc_a").alias("doc_id"))
    contaminated = a_eval.unionByName(b_eval).distinct()
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") % EVAL_MOD != 0)
        # no broadcast HINT: contaminated ids are bounded by the eval
        # set's near-dup fan-out, but the fixture's eval slice itself
        # grows with the corpus (doc_id % EVAL_MOD) — AQE decides from
        # the runtime size (ADVICE r8)
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
        )
    )


#: incremental NEAR-dup ingest: every doc_id divisible by this is
#: "today's batch" (~4% of the corpus — an increment, unlike the
#: exact variant's 1-in-3 split: the probe-side partition prune is
#: only meaningful when the batch's band keys cover a strict subset
#: of the index's key space)
INGEST_NEAR_MOD = 25
#: band-key suffix buckets per band in the persisted index layout:
#: partition key pk = band·NB + (bkey mod NB) → MINHASH_BANDS·NB
#: directories.  At 100 TB, NB is sized so one directory ≈ one
#: healthy parquet partition (~1 GB); here 16·32 = 512 keeps the
#: fixture prune measurable (a 20-doc batch touches ~240 of 512).
_INGEST_NB = 32

#: doc_id buckets (sk = doc_id mod NS) of the near-dup store's shingle
#: table, which serves the exact-Jaccard verify.  64 directories keep
#: the candidate-bucket prune measurable at fixture scale; at 100 TB
#: size NS so one bucket ≈ one healthy parquet partition.
_INGEST_NS = 64

#: the near-dup store: ``bands/`` partitioned by ``pk`` and ``shingles/``
#: partitioned by ``sk`` under one directory, each row tagged with its
#: origin ``src`` ('corpus' or 'stream').  ``dedup_incremental_ingest_near``
#: and ``streaming/neardup.py`` write and probe it through the helpers
#: below; the ``neardup_index`` fp carries both strings, so a layout edit
#: names a new store.
NEARDUP_BANDS = "doc_id BIGINT, band INT, bkey BIGINT, src STRING, pk INT"
NEARDUP_SHINGLES = "doc_id BIGINT, sh ARRAY<STRING>, src STRING, sk INT"
_PK = f"CAST(band * {_INGEST_NB} + pmod(bkey, {_INGEST_NB}) AS INT)"
_SK = f"CAST(pmod(doc_id, {_INGEST_NS}) AS INT)"


def neardup_append(d: str, src: str, sh: DataFrame, bands: DataFrame) -> None:
    """Append ``(doc_id, sh)`` shingles and ``(doc_id, band, bkey)``
    bands to the near-dup store at ``d`` with origin ``src``.  Each
    table is repartitioned on its partition key first, so one append
    writes one file per directory it touches."""
    (
        bands.selectExpr("doc_id", "band", "bkey", f"'{src}' AS src", f"{_PK} AS pk")
        .repartition(32, "pk")
        .write.mode("append")
        .partitionBy("pk")
        .parquet(os.path.join(d, "bands"))
    )
    (
        sh.selectExpr("doc_id", "sh", f"'{src}' AS src", f"{_SK} AS sk")
        .repartition(16, "sk")
        .write.mode("append")
        .partitionBy("sk")
        .parquet(os.path.join(d, "shingles"))
    )


def _census(df: DataFrame, key: str) -> list[int]:
    """The sorted distinct values of the partition key expression
    ``key`` over ``df``: a bounded collect (at most 512 ``pk`` or 64
    ``sk`` ints) that names the store partitions a probe reads."""
    return sorted(r[0] for r in df.selectExpr(key).distinct().collect())


def candidate_sks(cand: DataFrame) -> list[int]:
    """The ``sk`` census of the store candidates ``cand``: the shingle
    partitions ``neardup_verdicts`` reads."""
    return _census(cand.selectExpr("dd AS doc_id"), _SK)


def _store_part(
    spark: SparkSession, d: str, table: str, schema: str, key: str, keys: list[int]
) -> DataFrame:
    """The store table ``d/table`` restricted to the ``key`` partitions
    in ``keys``.  Spark prunes every other partition at file listing;
    an empty ``keys`` reads none."""
    return (
        spark.read.schema(schema)
        .parquet(os.path.join(d, table))
        .where(F.col(key).isin(keys))
    )


def neardup_candidates(spark: SparkSession, d: str, bands: DataFrame) -> DataFrame:
    """``(ds, dd, is_corpus)``: every store doc ``dd`` that shares a
    (band, bkey) bucket with a doc ``ds`` of ``bands``.  Reads only the
    store's band partitions named by the ``pk`` census of ``bands``."""
    store = _store_part(
        spark, d, "bands", NEARDUP_BANDS, "pk", _census(bands, _PK)
    )
    return sql(
        spark,
        """
        SELECT DISTINCT b.doc_id AS ds, s.doc_id AS dd,
               s.src = 'corpus' AS is_corpus
        FROM {bands} b JOIN {store} s USING (band, bkey)""",
        bands=bands,
        store=store,
    )


def _verify_sql(partners: str) -> str:
    """SQL rolling the candidate pairs ``cand`` (ds, dd, is_corpus) up
    to ``(ds, mc, ms)``: per ``ds``, its corpus (``mc``) and stream
    (``ms``) partners at Jaccard >= JACCARD_T, cross-multiplied in
    integers.  ``ds`` shingles come from ``{sh}``, ``dd`` shingles
    from the relation ``partners`` of ``(dd, shb)``."""
    i = "size(array_intersect(sha, shb))"
    return f"""
        SELECT ds,
               CAST(sum(CASE WHEN is_corpus THEN 1 ELSE 0 END) AS BIGINT) AS mc,
               CAST(sum(CASE WHEN is_corpus THEN 0 ELSE 1 END) AS BIGINT) AS ms
        FROM cand
        JOIN (SELECT doc_id AS ds, sh AS sha FROM {{sh}}) USING (ds)
        JOIN ({partners}) USING (dd)
        WHERE {i} * {JACCARD_T_DEN}
              >= {JACCARD_T_NUM} * (size(sha) + size(shb) - {i})
        GROUP BY ds"""


def neardup_verdicts(
    spark: SparkSession,
    d: str,
    cand: DataFrame,
    sh: DataFrame,
    bands: DataFrame,
    sks: list[int],
) -> DataFrame:
    """``(ds, mc, ms)`` for each doc of the batch ``sh``/``bands`` with a
    verified near-dup (``_verify_sql``).  Its candidates are the store
    candidates ``cand`` and the in-batch docs with a smaller id that
    share a bucket (counted in ``ms``).  A store partner's shingles are
    read from the store's ``sk`` partitions in ``sks``, the census of
    ``cand.dd``; an in-batch partner's come from ``sh``."""
    store = _store_part(spark, d, "shingles", NEARDUP_SHINGLES, "sk", sks)
    partners = (
        "SELECT doc_id AS dd, sh AS shb FROM {store}"
        " UNION ALL SELECT doc_id AS dd, sh AS shb FROM {sh}"
    )
    return sql(
        spark,
        f"""
        WITH cand AS (
          SELECT ds, dd, is_corpus FROM {{cand}}
          UNION
          SELECT a.doc_id AS ds, b.doc_id AS dd, false AS is_corpus
          FROM {{bands}} a JOIN {{bands}} b USING (band, bkey)
          WHERE b.doc_id < a.doc_id
        )
        {_verify_sql(partners)}""",
        cand=cand,
        sh=sh,
        bands=bands,
        store=store,
    )


@query(
    "dedup_incremental_ingest_near",
    oracle=f"""
    WITH {{cte}},
    bb AS (SELECT * FROM band WHERE doc_id % {INGEST_NEAR_MOD} = 0),
    cb AS (SELECT * FROM band WHERE doc_id % {INGEST_NEAR_MOD} <> 0),
    cand_c AS (
      SELECT DISTINCT b.doc_id AS db, c.doc_id AS dc
      FROM bb b JOIN cb c ON b.band = c.band AND b.bkey = c.bkey
    ),
    cand_b AS (
      SELECT DISTINCT b.doc_id AS db, a.doc_id AS dc
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter_c AS (
      SELECT c.db, c.dc, count(*) AS i
      FROM cand_c c
      JOIN sh x ON x.doc_id = c.db
      JOIN sh y ON y.doc_id = c.dc AND y.s = x.s
      GROUP BY c.db, c.dc
    ),
    inter_b AS (
      SELECT c.db, c.dc, count(*) AS i
      FROM cand_b c
      JOIN sh x ON x.doc_id = c.db
      JOIN sh y ON y.doc_id = c.dc AND y.s = x.s
      GROUP BY c.db, c.dc
    ),
    ver_c AS (
      SELECT DISTINCT i.db FROM inter_c i
      JOIN cnt a ON a.doc_id = i.db JOIN cnt b ON b.doc_id = i.dc
      WHERE i.i * 1.0 / (a.n + b.n - i.i) >= {JACCARD_T}
    ),
    ver_b AS (
      SELECT DISTINCT i.db FROM inter_b i
      JOIN cnt a ON a.doc_id = i.db JOIN cnt b ON b.doc_id = i.dc
      WHERE i.i * 1.0 / (a.n + b.n - i.i) >= {JACCARD_T}
    )
    SELECT d.doc_id,
           (vc.db IS NOT NULL) AS dup_vs_corpus,
           (vb.db IS NOT NULL) AS dup_in_batch,
           CASE WHEN vc.db IS NOT NULL OR vb.db IS NOT NULL
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {INGEST_NEAR_MOD} = 0) d
    LEFT JOIN ver_c vc ON vc.db = d.doc_id
    LEFT JOIN ver_b vb ON vb.db = d.doc_id
    """.format(cte=MINHASH_BAND_CTE),
)
def dedup_incremental_ingest_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: today's batch (``doc_id %
    INGEST_NEAR_MOD = 0``) judged against the corpus (every other doc)
    without rescanning corpus text.

    The corpus is written once per dataset version as the
    ``neardup_index`` store (``ensure_store``; layout ``NEARDUP_BANDS``
    and ``NEARDUP_SHINGLES``, ``src = 'corpus'``).  A call shingles and
    bands only the batch, probes the store's band partitions named by
    the batch's ``pk`` census and verifies the candidates by exact
    Jaccard against the shingle partitions named by their ``sk``
    census; Spark prunes every other partition at file listing.  The
    batch frames, the candidates and the ``sk`` census are memoized per
    dataset version, so a warm call reads only the shingle store.

    One row per batch doc: ``dup_vs_corpus`` (a verified corpus
    near-dup exists), ``dup_in_batch`` (a verified batch near-dup with
    a smaller doc_id exists, whatever its own verdict) and the
    keep/drop ``verdict``.  Equal, doc for doc, to ``dedup_minhash_near``
    restricted to the batch and to ``stream_dedup_near``
    (``matches_corpus > 0``, ``matches_stream > 0``)."""
    batch = f"doc_id % {INGEST_NEAR_MOD} = 0"

    def _build(d: str) -> None:
        neardup_append(
            d,
            "corpus",
            _doc_shingles(spark, sf_dir).where(f"NOT ({batch})"),
            _doc_bands(spark, sf_dir).where(f"NOT ({batch})"),
        )

    d = ensure_store(
        "neardup_index",
        sf_dir,
        (
            dataset_fingerprint(sf_dir, "documents"),
            MINHASH_K,
            MINHASH_BANDS,
            MINHASH_R,
            _INGEST_NB,
            _INGEST_NS,
            NEARDUP_BANDS,
            NEARDUP_SHINGLES,
        ),
        _build,
    )

    def _memo(tag: str, build):
        return memo(spark, sf_dir, "documents", tag, build)

    docs = load_table(spark, sf_dir, "documents")
    sh = _memo(
        "ingest_batch_shingles",
        lambda: _shingle_frame(
            _spread(spark, docs.where(batch).select("doc_id", "text"))
        ).persist(),
    )
    bands = _memo("ingest_batch_bands", lambda: _minhash_bands(sh).persist())
    cand = _memo(
        "ingest_cand", lambda: neardup_candidates(spark, d, bands).persist()
    )
    sks = _memo("ingest_sks", lambda: candidate_sks(cand))
    return sql(
        spark,
        f"""
        SELECT doc_id,
               coalesce(mc, 0) > 0 AS dup_vs_corpus,
               coalesce(ms, 0) > 0 AS dup_in_batch,
               CASE WHEN coalesce(mc + ms, 0) > 0
                    THEN 'drop' ELSE 'keep' END AS verdict
        FROM (SELECT doc_id FROM {{docs}} WHERE {batch})
        LEFT JOIN (SELECT ds AS doc_id, mc, ms FROM {{ver}}) USING (doc_id)""",
        docs=docs,
        ver=neardup_verdicts(spark, d, cand, sh, bands, sks),
    )


#: SemDeDup cosine threshold: pairs within a k-means cluster at or
#: above this are semantic duplicates.  Same value (and the same
#: clean fixture margin) as dedup_embedding_cosine's exact baseline.
SEMDEDUP_T = 0.4


#: row-block height for the per-cluster cosine matmul — scratch per
#: Arrow batch is block × |cluster| doubles (256 × 10⁵ ≈ 200 MB would
#: already be an oversized SemDeDup cluster; typical cells are ≪ that)
_SEMDEDUP_BLOCK = 256


def _semdedup_cluster_pairs(pdf):
    """Within-ONE-cluster cosine-threshold pairs (u < v, cos ≥
    SEMDEDUP_T) — the Arrow-batched kernel behind ``dedup_semdedup``:
    row-normalize the member matrix once, then matmul row blocks
    against the whole matrix (BLAS, float64).  Sorted by vec_id first
    so the float reduction order is fixed → deterministic across
    partitionings; the threshold margins are the same clean-fixture
    contract as ``dedup_embedding_cosine``'s 0.4."""
    import numpy as np
    import pandas as pd

    if len(pdf) < 2:
        return pd.DataFrame({"u": [], "v": []}).astype("int64")
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    # zero-norm guard (ADVICE r11): clamping the norm makes an all-zero
    # embedding score cos=0 < SEMDEDUP_T → no pair, matching the DuckDB
    # oracle, whose list_cosine_similarity returns -1.0 for a zero
    # vector (verified) → also no pair.  Without it 0/0 = NaN would
    # silently drop ALL comparisons against that row.
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    us, vs = [], []
    for lo in range(0, len(ids), _SEMDEDUP_BLOCK):
        hi = min(lo + _SEMDEDUP_BLOCK, len(ids))
        S = V[lo:hi] @ V.T  # block × n
        bi, bj = np.nonzero(S >= SEMDEDUP_T)
        keep = (bi + lo) < bj  # upper triangle only (u < v)
        us.append(ids[bi[keep] + lo])
        vs.append(ids[bj[keep]])
    return pd.DataFrame(
        {"u": np.concatenate(us), "v": np.concatenate(vs)}
    )


def _semdedup_oracle() -> str:
    from mapreduceplusplus_spark.operators.ml import KMEANS_A2_SQL

    return f"""
    WITH RECURSIVE {KMEANS_A2_SQL},
    V AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
          FROM embeddings),
    P AS (
      SELECT x.vec_id AS u, y.vec_id AS v
      FROM A2 x JOIN A2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN V vx ON vx.vec_id = x.vec_id
      JOIN V vy ON vy.vec_id = y.vec_id
      WHERE list_cosine_similarity(vx.ve, vy.ve) >= {SEMDEDUP_T}
    ),
    edges AS (SELECT u, v FROM P UNION ALL SELECT v, u FROM P),
    reach(u, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    lab AS (SELECT u, min(label) AS label FROM reach GROUP BY u)
    SELECT a.vec_id,
           CAST(a.cid AS BIGINT)                        AS cid,
           CAST(coalesce(l.label, a.vec_id) AS BIGINT)  AS sem_cluster,
           (coalesce(l.label, a.vec_id) = a.vec_id)     AS keep
    FROM A2 a LEFT JOIN lab l ON l.u = a.vec_id
    """


def _semdedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (vec_id, cid, v) gate frame shared by ``dedup_semdedup``
    and ``dedup_semdedup_incremental``.  The WHOLE build — including
    ``kmeans_assignments``, whose exploded cell relation runs an eager
    localCheckpoint job over the full embeddings table — lives inside
    the memoized ``_build``, so a warm invocation pays a dict
    lookup, not a corpus-sized Spark job (round-12 review: calling
    kmeans_assignments unconditionally before the gate lookup re-ran
    the checkpoint job on every bench rep)."""
    from mapreduceplusplus_spark.operators.ml import kmeans_assignments

    def _build() -> DataFrame:
        assign = kmeans_assignments(spark, sf_dir).select("vec_id", "cid")
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        return assign.join(emb, "vec_id").persist()

    # memoized persist (not a local persist/unpersist pair: the
    # RETURNED plans still reference this frame, so an unpersist on
    # exit would silently re-run the Lloyd assignment at collect
    # time) — released by ``memo.release()`` like every other
    # memoized intermediate
    return memo(spark, sf_dir, "embeddings", "semdedup_gate", _build)


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication") — the embedding-space complement of the lexical
    near-dup family: documents that SAY the same thing in different
    words never share shingles, but their embeddings cluster.

    Three stages, each already proven on this engine:
    1. COARSE GATE: k-means cluster assignment (the integer-exact
       two-iteration Lloyd of ``ml_kmeans_lloyd`` —
       ``operators/ml.py:kmeans_assignments``, shared code AND shared
       oracle CTEs, so the gate itself is differential-checked);
    2. WITHIN-CLUSTER pairs: exact cosine over pairs INSIDE one
       cluster only (``a.cid = b.cid AND a.vec_id < b.vec_id``,
       cosine ≥ 0.4 = SEMDEDUP_T) — the all-pairs search is BOUNDED per
       cluster, never global: SemDeDup's whole point is that the
       cluster gate turns O(n²) into Σ|cluster|², and at 100 TB k
       scales with n so |cluster| (hence the per-key join fan-in)
       stays constant.  Cross-cluster near-pairs are deliberately
       missed — the documented SemDeDup approximation, mirrored
       exactly by the oracle's gate;
    3. CANONICAL ELECTION: connected components of the pair graph
       (``_cc_two_phase``, O(log n) large-star/small-star rounds)
       with the minimum vec_id kept per semantic cluster — singletons
       keep themselves.

    Output: one row per vector — its k-means cell ``cid``, its
    semantic cluster id (component minimum), and the ``keep`` verdict.
    The oracle recomputes all three stages independently: the same
    quantized Lloyd CTEs, a within-cluster all-pairs spec join, and a
    recursive-CTE fixpoint for the components (deliberately
    unscalable checking algebra — the engine side never materializes
    a global all-pairs).  The engine computes the per-cluster cosines
    as one Arrow-batched BLAS matmul per cluster (vec_id-sorted, so
    reduction order is fixed → deterministic across partitionings);
    the float threshold compare against DuckDB's array fold rests on
    the same clean-margin contract as ``dedup_embedding_cosine``'s
    0.4.  Reference heritage: none (SURVEY §2 charter extension,
    dedup family)."""
    x = _semdedup_gate(spark, sf_dir)
    # within-cluster pairs via ONE Arrow applyInPandas per cluster: a
    # BLAS matmul of the row-normalized member matrix, row-blocked at
    # _SEMDEDUP_BLOCK so per-group scratch is O(block·|cluster|), not
    # O(|cluster|²).  The first formulation — a self-join with a
    # per-pair zip_with/aggregate cosine — re-ran an INTERPRETED
    # 64-element fold 2·|pairs| times (~3.1M pairs at sf0.1: the
    # linear-in-rows HOF cliff the kmeans assignment already hit in
    # r8); the vectorized matmul does the same arithmetic at ~100×
    # the throughput (interpreted-HOF first cut measured 4.8 s at
    # sf0.1 vs ~3.8-4.4 s for the whole query after this rewrite —
    # scale points in BASELINE.md round 12).  Group
    # size is bounded by SemDeDup's own contract (k scales with n),
    # so one group per Arrow batch holds at scale.
    pairs = x.groupBy("cid").applyInPandas(
        _semdedup_cluster_pairs, "u bigint, v bigint"
    )
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    try:
        labels, _rounds = _cc_two_phase(edges)
    finally:
        edges.unpersist()
    return (
        x.select("vec_id", "cid")
        .join(
            labels.select(
                F.col("u").alias("vec_id"), F.col("label").alias("lbl")
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cid"),
            F.coalesce("lbl", F.col("vec_id")).cast("bigint").alias(
                "sem_cluster"
            ),
            (F.coalesce("lbl", F.col("vec_id")) == F.col("vec_id")).alias(
                "keep"
            ),
        )
    )


#: batch membership for the incremental SEMANTIC ingest — every 5th
#: vec_id is "today's embeddings batch", the rest are the indexed
#: corpus (distinct from the lexical twin's doc_id % 25 so the two
#: incremental queries exercise different split shapes)
SEMINGEST_MOD = 5


def _semingest_flags(pdf):
    """Per-cluster verify kernel behind ``dedup_semdedup_incremental``:
    one Arrow batch = one k-means cell holding today's BATCH vectors
    (``is_corpus = False``) and the cell's pruned INDEX members.  Emits
    one row per batch vector: does a corpus member within the cell
    clear the SemDeDup threshold (``dup_vs_corpus``), does a SMALLER-id
    batch vector (``dup_in_batch`` — the same greedy pairwise rule as
    the lexical twin)?  Same row-blocked float64 BLAS matmul, fixed
    vec_id sort order, and zero-norm clamp as
    ``_semdedup_cluster_pairs``."""
    import numpy as np
    import pandas as pd

    def _empty():
        return pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "dup_vs_corpus": pd.Series([], dtype=bool),
                "dup_in_batch": pd.Series([], dtype=bool),
            }
        )

    b = pdf[~pdf["is_corpus"]].sort_values("vec_id")
    if not len(b):
        return _empty()
    Vb = np.stack(b["v"].to_numpy()).astype(np.float64)
    Vb /= np.maximum(np.linalg.norm(Vb, axis=1, keepdims=True), 1e-300)
    c = pdf[pdf["is_corpus"]]
    Vc = None
    if len(c):
        Vc = np.stack(c["v"].to_numpy()).astype(np.float64)
        Vc /= np.maximum(np.linalg.norm(Vc, axis=1, keepdims=True), 1e-300)
    dup_c = np.zeros(len(b), dtype=bool)
    dup_b = np.zeros(len(b), dtype=bool)
    for lo in range(0, len(b), _SEMDEDUP_BLOCK):
        hi = min(lo + _SEMDEDUP_BLOCK, len(b))
        if Vc is not None:
            dup_c[lo:hi] = (Vb[lo:hi] @ Vc.T >= SEMDEDUP_T).any(axis=1)
        S = Vb[lo:hi] @ Vb.T  # block × |batch|
        # strictly-earlier columns only: j < global row index ⇒ the
        # j-th batch vector has a SMALLER vec_id (rows are id-sorted)
        mask = np.arange(len(b))[None, :] < np.arange(lo, hi)[:, None]
        dup_b[lo:hi] = ((S >= SEMDEDUP_T) & mask).any(axis=1)
    return pd.DataFrame(
        {
            "vec_id": b["vec_id"].to_numpy(),
            "dup_vs_corpus": dup_c,
            "dup_in_batch": dup_b,
        }
    )


def _semingest_oracle() -> str:
    from mapreduceplusplus_spark.operators.ml import KMEANS_A2_SQL

    return f"""
    WITH {KMEANS_A2_SQL},
    V AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
          FROM embeddings),
    M AS (SELECT a.vec_id, a.cid, v.ve
          FROM A2 a JOIN V v ON v.vec_id = a.vec_id),
    B AS (SELECT * FROM M WHERE vec_id % {SEMINGEST_MOD} = 0),
    C AS (SELECT * FROM M WHERE vec_id % {SEMINGEST_MOD} <> 0),
    dc AS (SELECT DISTINCT b.vec_id FROM B b JOIN C c ON b.cid = c.cid
           WHERE list_cosine_similarity(b.ve, c.ve) >= {SEMDEDUP_T}),
    db AS (SELECT DISTINCT b.vec_id FROM B b
           JOIN B c2 ON b.cid = c2.cid AND c2.vec_id < b.vec_id
           WHERE list_cosine_similarity(b.ve, c2.ve) >= {SEMDEDUP_T})
    SELECT b.vec_id,
           (dc.vec_id IS NOT NULL) AS dup_vs_corpus,
           (db.vec_id IS NOT NULL) AS dup_in_batch,
           CASE WHEN dc.vec_id IS NOT NULL OR db.vec_id IS NOT NULL
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM B b LEFT JOIN dc ON dc.vec_id = b.vec_id
             LEFT JOIN db ON db.vec_id = b.vec_id
    """


@query("dedup_semdedup_incremental", oracle=_semingest_oracle())
def dedup_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC ingest — the SemDeDup analog of
    ``dedup_incremental_ingest_near``, completing the incremental-
    ingest pair (lexical + semantic) a continuous 100 TB training-data
    pipeline runs per crawl batch:

    1. INDEX (write-once per dataset version, ``ensure_store``): the corpus
       member embeddings, parquet PARTITIONED BY their k-means cell
       ``cid`` — ``sim_search_ivf_partitioned``'s layout.  The cell
       assignment comes from the SHARED integer-exact Lloyd gate
       (``operators/ml.py:kmeans_assignments``) over the dataset
       version — the same relation ``dedup_semdedup`` gates on (and
       the same persisted ``semdedup_gate`` frame, so the two queries
       share one build).  That sharing is what makes the equality pin
       EXACT: a Lloyd assignment is not split-invariant, so a
       production system freezes the trained centroid set as the model
       artifact and assigns batches map-side against the broadcast
       centroids — precisely what ``kmeans_assignments``' assign step
       is (a k·d broadcast join), with the training corpus here being
       the dataset version.
    2. PROBE: the batch (``vec_id % {SEMINGEST_MOD} = 0``) collects its
       DISTINCT cells (bounded census, ≤ k ints) and reads the index
       ``WHERE cid IN (...)`` — a partition-column predicate, so the
       unprobed cells are pruned at file-listing time.  With the
       fixture's k = 4 a spread batch touches every cell; the prune
       pin therefore uses a CONSTRUCTED dataset whose batch occupies a
       strict cell subset (at 100 TB, SemDeDup's k-scales-with-n
       contract makes a batch touch a vanishing fraction of cells).
    3. VERIFY: one Arrow kernel per probed cell (``_semingest_flags``)
       computes batch×corpus and batch×batch cosines as row-blocked
       float64 BLAS — ``dup_vs_corpus`` (any corpus member ≥
       ``SEMDEDUP_T`` = 0.4), ``dup_in_batch`` (any smaller-id batch member ≥
       threshold, the greedy pairwise rule), verdict keep/drop.

    Output mirrors the lexical twin: one row per batch vector.  The
    DuckDB oracle recomputes everything from the spec — shared Lloyd
    CTEs, within-cell batch⋈corpus and batch⋈batch cosine joins —
    under the same clean-margin float-threshold contract as
    ``dedup_semdedup``.  Reference heritage: none (SURVEY §2 charter
    extension, dedup family)."""
    from mapreduceplusplus_spark.sources.tables import dataset_fingerprint

    x = _semdedup_gate(spark, sf_dir)
    is_batch = F.col("vec_id") % SEMINGEST_MOD == 0

    def _build_store(d: str) -> None:
        (
            x.where(~is_batch)
            .select("vec_id", "v", "cid")
            # one writer task per cell: file count ≈ #cells
            .repartition(4, F.col("cid"))
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(d)
        )

    index_dir = ensure_store(
        "semingest_index",
        sf_dir,
        (dataset_fingerprint(sf_dir, "embeddings"),),
        _build_store,
    )

    batch = memo(
        spark,
        sf_dir,
        "embeddings",
        "semingest_batch",
        lambda: x.where(is_batch).persist(),
    )
    # bounded census collect: ≤ k cluster ids
    probe_cids = memo(
        spark,
        sf_dir,
        "embeddings",
        "semingest_cids",
        lambda: sorted(r[0] for r in batch.select("cid").distinct().collect()),
    )
    if not probe_cids:
        return batch.select(
            "vec_id",
            F.lit(False).alias("dup_vs_corpus"),
            F.lit(False).alias("dup_in_batch"),
            F.lit("keep").alias("verdict"),
        )
    idx = (
        spark.read.schema("vec_id BIGINT, v ARRAY<DOUBLE>, cid BIGINT")
        .parquet(index_dir)
        .where(F.col("cid").isin(probe_cids))
    )
    un = batch.select(
        "vec_id", "v", "cid", F.lit(False).alias("is_corpus")
    ).unionByName(idx.withColumn("is_corpus", F.lit(True)))
    flags = un.groupBy("cid").applyInPandas(
        _semingest_flags,
        "vec_id bigint, dup_vs_corpus boolean, dup_in_batch boolean",
    )
    return flags.select(
        "vec_id",
        "dup_vs_corpus",
        "dup_in_batch",
        F.when(F.col("dup_vs_corpus") | F.col("dup_in_batch"), "drop")
        .otherwise("keep")
        .alias("verdict"),
    )


@query(
    "dq_duplication_report",
    oracle="""
    WITH ws AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, source,
             unnest([md5(array_to_string(w[i*20+1 : i*20+20], ' '))
                     for i in range(0, CAST((len(w) + 19) // 20 AS INT))])
               AS fp
      FROM ws WHERE len(w) > 0
    ),
    freq AS (
      SELECT fp, count(*) AS c, count(DISTINCT source) AS ns
      FROM chunks GROUP BY fp
    ),
    j AS (SELECT ch.source, f.c, f.ns FROM chunks ch JOIN freq f ON f.fp = ch.fp)
    SELECT source,
           CAST(count(*) AS BIGINT)                        AS n_chunks,
           CAST(count(*) FILTER (WHERE c > 1) AS BIGINT)   AS n_dup_chunks,
           CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT)  AS n_cross_chunks,
           CAST(count(*) FILTER (WHERE c > 1) * 1000000 // count(*)
                AS BIGINT)                                 AS dup_ppm
    FROM j GROUP BY source
    """,
)
def dq_duplication_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE duplication governance report — the rollup a corpus
    owner reads before deciding which crawls to keep: for each
    ``source``, how many of its 20-token chunks (the
    ``dedup_chunk_exact`` granularity, same md5 fingerprints) are
    duplicated ANYWHERE in the corpus (``n_dup_chunks``, ppm rate) and
    how many appear in MORE THAN ONE source (``n_cross_chunks`` —
    syndication/mirror mass, the chunks document-level dedup inside a
    source can never remove).  Full-text duplicate rate is the
    degenerate special case (this fixture plants chunk-level dups
    only), so the chunk grain is the informative one.

    Plan: the same explode → 16-byte-fp hash agg as
    ``dedup_chunk_exact`` (uniform md5 keyspace, no skew), one join
    back, one per-source rollup — two shuffles total, text never
    shuffled.  The ppm rate is a BIGINT floor division (engine-exact);
    at 100 TB the report is ~#sources rows.  Reference heritage: none
    (SURVEY §2 charter extension, dq family)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", tokens(F.col("text")).alias("w"))
        .where(F.size("w") > 0)
    )
    nc = F.expr("(size(w) + 19) div 20").cast("int")
    chunk_fps = F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice("w", i * 20 + 1, 20))),
    )
    chunks = docs.select("source", F.explode(chunk_fps).alias("fp"))
    freq = chunks.groupBy("fp").agg(
        F.count("*").alias("c"),
        F.count_distinct("source").alias("ns"),
    )
    return (
        chunks.join(freq, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.count(F.when(F.col("c") > 1, 1))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.count(F.when(F.col("ns") > 1, 1))
            .cast("bigint")
            .alias("n_cross_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_chunks",
            "n_cross_chunks",
            F.expr("n_dup_chunks * 1000000 div n_chunks")
            .cast("bigint")
            .alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# sliding-window exact-substring dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------

#: substring-dedup parameters: K = gram length in words (the paper's
#: "50 BPE tokens" at word grain), W = winnowing window over the gram
#: sequence.  The reported-span floor is W + K - 1 = 28 shared words.
SUBSTR_K, SUBSTR_W = 25, 4


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i + {SUBSTR_K} - 1], ' ')) AS h
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - {SUBSTR_K} + 1)) AS i
            FROM (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z]+') AS ws
                  FROM documents)
            WHERE len(ws) >= {SUBSTR_K})
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    )
    SELECT doc_a, doc_b,
           CAST(min(pa) AS BIGINT)                      AS a_start,
           CAST(max(pa) + {SUBSTR_K} - 1 AS BIGINT)     AS a_end,
           CAST(min(pa) - diag AS BIGINT)               AS b_start,
           CAST(max(pa) - diag + {SUBSTR_K} - 1 AS BIGINT) AS b_end,
           CAST(count(*) + {SUBSTR_K} - 1 AS BIGINT)    AS n_words
    FROM isl
    GROUP BY doc_a, doc_b, diag, grp
    HAVING count(*) >= {SUBSTR_W}
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window EXACT-SUBSTRING dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): report
    every maximal cross-document shared word run of >=
    W + K - 1 = {28} words, with per-document SPANS (1-based inclusive
    word positions) — the duplication ``dedup_chunk_exact``'s
    fixed-stride chunks structurally miss (a copied passage shifted by
    one word lands across chunk boundaries and never collides; stride-1
    grams are alignment-free).

    Spec (the oracle states it directly as the deliberately-unscalable
    all-pairs form): hash every stride-1 K-word gram; a shared maximal
    run between two docs is an island of consecutive matching gram
    positions on one (doc_a, doc_b, pos_a - pos_b) diagonal; report
    islands of >= W grams (= W + K - 1 words) with their extents.

    Engine plan — candidates are WINNOWED, verification is exact and
    pair-bounded, and the composition is PROVABLY LOSSLESS for this
    output spec (the Bayardo/PPJoin shape: candidates track true
    pairs):

    1. one corpus pass computes the positional gram-hash sequence per
       document (a single doc_id-windowed lead/concat/md5 pass — JVM
       expression eval, not an interpreted array HOF; see the build
       comment below for the measured 10x);
    2. winnowing (Schleimer et al. SIGMOD'03, the
       ``text_winnowing_matches`` machinery at K={25}, W={4}) selects
       each W-window's min hash — expected density 2/(W+1) of gram
       positions, the volume knob a 100 TB run turns UP (W~50) to thin
       the candidate index without losing the guarantee;
    3. candidate pairs = DISTINCT (doc_a, doc_b) sharing >= 1 selected
       fingerprint.  Losslessness: a reported island has m >= W
       consecutive matching grams, so >= 1 full winnowing window lies
       entirely inside the shared run; that window's min is selected
       in BOTH documents (identical window content), so the pair is
       always a candidate.  Chance single-fingerprint pairs die in
       verification (no island reaches W).
    4. exact verify joins the candidate pairs back to the FULL gram
       relation (volume bounded by candidate pairs x matching grams,
       not corpus^2), then one diagonal gaps-and-islands window
       recovers exact maximal extents.

    Reference heritage: charter headroom (VERDICT r12 #3); the
    reference has no dedup at all (``mr/word_count.h`` counts words).

    At 100 TB: the gram pass is one token-level doc_id exchange plus
    windowed JVM expression eval; the fingerprint self-join
    shuffles the winnowed index (2/(W+1) of corpus grams, the knob);
    the verify join shuffles only candidate-pair grams.  Hot
    boilerplate fingerprints are the skew risk — AQE skew-split
    backstops, and the W knob thins exactly them."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    k, w = SUBSTR_K, SUBSTR_W
    wnd = Window.partitionBy("doc_id").orderBy("pos")

    # full positional gram relation — feeds the winnow pass AND the
    # exact verify.  Built as ONE window pass over the exploded token
    # stream (k-1 leads + concat + md5, all JVM expression eval
    # sharing a single doc_id sort): the first formulation — an array
    # HOF `transform(sequence, i -> md5(concat_ws(slice(ws, i, k))))`
    # — is INTERPRETED per gram position (the linear-CPU cliff the
    # kmeans assignment hit in r8) and measured 10-14x slower at sf1
    # (30 s -> 2-3 s for the identical 1.56M-gram output).  The cost
    # is one token-level exchange on doc_id; at 100 TB that shuffle is
    # the deliberate trade against interpreted per-gram CPU.
    def _build_grams() -> DataFrame:
        t = docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
        )
        lead_cols = [F.col("w")] + [
            F.lead("w", j).over(wnd) for j in range(1, k)
        ]
        return (
            t.select(
                "doc_id",
                (F.col("pos") + 1).cast("bigint").alias("pos"),
                F.md5(F.concat_ws(" ", *lead_cols)).alias("h"),
                # a full k-gram exists exactly where the last lead lands
                F.lead("w", k - 1).over(wnd).isNotNull().alias("_full"),
            )
            .where("_full")
            .drop("_full")
        )

    grams = memo(
        spark, sf_dir, "documents", "substr_grams", lambda: _build_grams().persist()
    )
    # winnowed fingerprint index — feeds BOTH sides of the candidate
    # self-join; the W-window minimum is a rows-frame min over the
    # SAME per-doc sort (persisted like the text_winnowing_matches
    # index)
    fps = memo(
        spark,
        sf_dir,
        "documents",
        "substr_winnow_fp",
        lambda: grams.select(
            "doc_id",
            F.min("h")
            .over(wnd.rowsBetween(Window.currentRow, w - 1))
            .alias("fp"),
            # a full winnow window exists where its last gram does
            F.lead("h", w - 1).over(wnd).isNotNull().alias("_full"),
        )
        .where("_full")
        .select("doc_id", "fp")
        .distinct()
        .persist(),
    )
    cand = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    m = (
        cand.join(
            grams.select(
                F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h"
            ),
            "doc_a",
        )
        .join(
            grams.select(
                F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h"
            ),
            ["doc_b", "h"],
        )
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wnd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = m.withColumn("grp", F.col("pa") - F.row_number().over(wnd))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("mn"),
            F.max("pa").alias("mx"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("cnt") >= w)
        .select(
            "doc_a",
            "doc_b",
            F.col("mn").cast("bigint").alias("a_start"),
            (F.col("mx") + (k - 1)).cast("bigint").alias("a_end"),
            (F.col("mn") - F.col("diag")).cast("bigint").alias("b_start"),
            (F.col("mx") - F.col("diag") + (k - 1)).cast("bigint").alias("b_end"),
            (F.col("cnt") + (k - 1)).cast("bigint").alias("n_words"),
        )
    )


@query(
    "dedup_substring_scrub",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i + {SUBSTR_K} - 1], ' ')) AS h
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - {SUBSTR_K} + 1)) AS i
            FROM (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z]+') AS ws
                  FROM documents)
            WHERE len(ws) >= {SUBSTR_K})
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_b AS doc_id,
             CAST(min(pa) - diag AS BIGINT)                   AS s,
             CAST(max(pa) - diag + {SUBSTR_K} - 1 AS BIGINT)  AS e
      FROM isl
      GROUP BY doc_a, doc_b, diag, grp
      HAVING count(*) >= {SUBSTR_W}
    ),
    swept AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_e
      FROM spans
    ),
    cut AS (
      SELECT doc_id,
             CAST(sum(greatest(0, e - greatest(s - 1, coalesce(prev_e, 0))))
                  AS BIGINT) AS n_cut
      FROM swept GROUP BY doc_id
    ),
    toklen AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words
      FROM documents
    )
    SELECT c.doc_id, t.n_words, c.n_cut,
           CAST(t.n_words - c.n_cut AS BIGINT) AS n_kept,
           CAST(CAST(c.n_cut AS HUGEINT) * 1000000 // t.n_words AS BIGINT)
             AS cut_ppm
    FROM cut c JOIN toklen t ON t.doc_id = c.doc_id
    """,
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCRUB accounting that completes the Lee et al. 2022
    substring-dedup pipeline: for every document that shares a
    >= W + K - 1 word run with a LOWER-id document (the repo's standard
    lowest-id-wins keeper rule — the earlier copy is kept intact, the
    later copy is cut), the interval UNION of its to-cut spans and the
    resulting word budget: total words, words cut, words kept, cut
    share in exact ppm.

    Composition: the span relation is ``dedup_substring_spans``' exact
    output (same winnowed-candidates + pair-bounded verify plan — the
    persisted gram/fingerprint frames are shared, so this adds no new
    corpus pass); the interval union is one SWEEP window per document
    (sort spans by start, running max of end over PRECEDING rows, count
    only the newly covered words) — overlap-safe without exploding
    positions, |spans per doc| rows, never |words|.  The ppm ratio is
    one integer floor division (DECIMAL(38,0) / HUGEINT pairing).

    At 100 TB this is the operator that actually EDITS the corpus: the
    kept/cut intervals drive the rewrite job (a mapInPandas slice over
    (doc, merged intervals) — deliberately out of scope here since the
    fixture pipeline consumes counts, not rewritten text; the
    accounting is the verifiable part)."""
    k = SUBSTR_K
    spans = (
        dedup_substring_spans(spark, sf_dir)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("b_start").alias("s"),
            F.col("b_end").alias("e"),
        )
    )
    sweep = Window.partitionBy("doc_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cut = (
        spans.withColumn("prev_e", F.max("e").over(sweep))
        .select(
            "doc_id",
            F.greatest(
                F.lit(0),
                F.col("e")
                - F.greatest(F.col("s") - 1, F.coalesce("prev_e", F.lit(0))),
            ).alias("newly"),
        )
        .groupBy("doc_id")
        .agg(F.sum("newly").cast("bigint").alias("n_cut"))
    )
    docs = load_table(spark, sf_dir, "documents")
    toklen = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_words")
    )
    return cut.join(toklen, "doc_id").select(
        "doc_id",
        "n_words",
        "n_cut",
        (F.col("n_words") - F.col("n_cut")).cast("bigint").alias("n_kept"),
        F.expr(
            "CAST(CAST(n_cut AS DECIMAL(38,0)) * 1000000 div n_words"
            " AS BIGINT)"
        ).alias("cut_ppm"),
    )


#: the Jaccard sweep grid (percent) — min 50 sets the one candidate
#: generation threshold; everything above re-thresholds for free
_CURVE_PCTS = [50, 60, 70, 80, 90]


@query(
    "dedup_threshold_curve",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in range(1, len(ws) - 1)])) AS s
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY da, db
    ),
    pairs AS (
      SELECT da, db, i, ca.n + cb.n - i AS u
      FROM inter
      JOIN cnt ca ON ca.doc_id = da
      JOIN cnt cb ON cb.doc_id = db
      WHERE i * 2 >= ca.n + cb.n - i
    ),
    t AS (SELECT unnest({_CURVE_PCTS}) AS pct)
    SELECT CAST(pct AS BIGINT) AS threshold_pct,
           CAST(count(CASE WHEN i * 100 >= pct * u THEN 1 END) AS BIGINT)
             AS n_dup_pairs,
           CAST(count(DISTINCT CASE WHEN i * 100 >= pct * u THEN db END)
                AS BIGINT) AS n_docs_flagged
    FROM t CROSS JOIN pairs
    GROUP BY pct
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold SWEEP — the dedup-rate-vs-threshold curve
    every curation run plots before committing to a cut (how much of
    the corpus disappears at J ≥ 0.7 vs 0.9?), from ONE candidate
    pass.  The prefix/position filter (``_ngram_pairs``) is built once
    at the sweep MINIMUM (J ≥ 1/2, lossless there, hence lossless for
    every higher threshold); each candidate pair carries its exact
    integer (intersection, union), and all {len(_CURVE_PCTS)} grid
    points re-threshold with pure integer comparisons
    (``i·100 ≥ pct·u``) in a single conditional aggregate — no float
    Jaccard anywhere, no second pass over the corpus.  Per threshold:
    qualifying pair count and distinct later-copy docs flagged (the
    lowest-id-keeper greedy accounting of ``dedup_exact``; transitive
    closure is ``dedup_cluster_canonical``'s job).

    Scale: the candidate stage is the documented all-pairs prefix
    filter (Bayardo WWW'07 / Xiao WWW'08) — at J ≥ 1/2 each doc
    indexes ~half its shingles (vs ~20% at 0.8), the honest cost of
    sweeping low; the sweep itself adds one broadcast of a
    {len(_CURVE_PCTS)}-row literal grid and one hash aggregate over
    the (tiny) surviving pair relation.  Reference heritage: none
    (SURVEY §2 charter extension, dedup family)."""
    docs = _doc_shingles(spark, sf_dir)
    raw = _ngram_pairs(
        docs,
        True,
        aux=(spark, sf_dir, ("prefix_posting_t", 1, 2)),
        t_num=1,
        t_den=2,
        raw_counts=True,
    )
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _CURVE_PCTS])).alias("pct")
    )
    qual = raw["i"] * 100 >= F.col("pct") * raw["u"]
    # broadcast-safe: th is the literal 5-row threshold grid
    return (
        raw.crossJoin(F.broadcast(th))
        .groupBy("pct")
        .agg(
            F.count(F.when(qual, 1)).alias("n_dup_pairs"),
            F.countDistinct(F.when(qual, F.col("db"))).alias("n_docs_flagged"),
        )
        .select(
            F.col("pct").cast("bigint").alias("threshold_pct"),
            F.col("n_dup_pairs").cast("bigint").alias("n_dup_pairs"),
            F.col("n_docs_flagged").cast("bigint").alias("n_docs_flagged"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in range(1, len(ws) - 1)])) AS s
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    first_seen AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                AS BIGINT) AS n_novel,
           CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                * 1000000 // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN first_seen f USING (s)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the fraction of a document's
    distinct word-trigrams never seen in any earlier (lower doc_id)
    document, the standard memorization/redundancy readout a curation
    run plots over ingest order (a corpus whose novelty curve collapses
    is re-crawling itself; a near-dup's novelty is ~0 without ever
    running pair dedup).  Ingest order = doc_id, the fixture's stable
    ordering (the ``dedup_exact`` keeper convention).

    Plan: the cached distinct-shingle frame (``_doc_shingles``, shared
    with the whole near-dup family — no new corpus pass) exploded once
    → one hash aggregate for the global first-occurrence relation
    (``min(doc_id)`` per gram — map-side combined, the word-count
    shape) → equi-join back on the gram key → per-doc conditional
    rollup.  Integer ppm floor division on both engines.  At 100 TB
    the first-seen relation is the corpus's distinct-gram table —
    Zipf-bounded, hash-partitioned on the gram key; no sort, no
    window, no driver state.  Reference heritage: none (SURVEY §2
    charter extension, text-analysis family)."""
    sh = _doc_shingles(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1)
    return (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count(novel).cast("bigint").alias("n_novel"),
            F.expr("(count(CASE WHEN first_doc = doc_id THEN 1 END)"
                   " * 1000000) div count(*)")
            .cast("bigint")
            .alias("novelty_ppm"),
        )
    )


#: URL-canonicalization page-block size: canonical page id is
#: ``doc_id div 140`` — 140 = 7 × the fixture's 20-source cycle, so
#: each (source, page) cell holds ~7 docs whose derived raw URLs mix
#: scheme/case/www/port/tracking-param variants of the SAME page
_URL_PAGE_DIV = 140


def _url_canon_sql(dialect: str) -> dict[str, str]:
    """The URL raw-derivation + canonicalization expressions, emitted
    for BOTH dialects from one definition (the ``floor_div_sql``
    one-sided-edit discipline).  The only dialect seams are the
    integer-division operator, the string cast type name, and the
    array→string join function name; every other fragment —
    ``split_part``, ``filter`` lambdas, ``array_sort``,
    ``regexp_replace`` — is verbatim-identical and was probed
    value-identical on both engines."""
    idiv = {"spark": "div", "duckdb": "//"}[dialect]
    stype = {"spark": "STRING", "duckdb": "VARCHAR"}[dialect]
    join_fn = {"spark": "array_join", "duckdb": "array_to_string"}[dialect]
    raw = f"""concat(
      CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
      CASE WHEN doc_id % 3 = 0 THEN concat(source, '.example.com')
           WHEN doc_id % 3 = 1 THEN concat('WWW.', source, '.Example.COM')
           ELSE concat(source, '.example.com:443') END,
      '/articles/', CAST(doc_id {idiv} {_URL_PAGE_DIV} AS {stype}),
      CASE WHEN doc_id % 4 = 0 THEN ''
           WHEN doc_id % 4 = 1 THEN '/'
           WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=crawl'
           ELSE '?page=2&utm_medium=email&b=1#frag' END)"""
    strip = ("regexp_replace(regexp_replace(raw_url, '^https?://', ''),"
             " '#.*$', '')")
    host = """regexp_replace(
      CASE WHEN substr(lower(split_part(u, '/', 1)), 1, 4) = 'www.'
           THEN substr(lower(split_part(u, '/', 1)), 5)
           ELSE lower(split_part(u, '/', 1)) END,
      ':(443|80)$', '')"""
    path = ("regexp_replace(regexp_replace(split_part(u, '?', 1),"
            " '^[^/]*', ''), '/$', '')")
    # query = everything after the FIRST '?' (a literal '?' may recur
    # inside the query per RFC 3986; split_part(u,'?',2) would truncate
    # there — caught by the Python-reference spec test)
    qsrc = ("CASE WHEN instr(u, '?') > 0"
            " THEN substr(u, instr(u, '?') + 1) ELSE '' END")
    cq = f"""{join_fn}(array_sort(filter(split({qsrc}, '&'),
      p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
       AND substr(p, 1, 7) <> 'fbclid=' AND substr(p, 1, 6) <> 'gclid=')),
      '&')"""
    curl = ("concat(host, path,"
            " CASE WHEN cq <> '' THEN concat('?', cq) ELSE '' END)")
    return {"raw": raw, "strip": strip, "host": host, "path": path,
            "cq": cq, "curl": curl, "idiv": idiv}


_UC_D = _url_canon_sql("duckdb")


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_UC_D["raw"]} AS raw_url FROM documents
    ),
    u AS (SELECT doc_id, {_UC_D["strip"]} AS u FROM raw),
    hp AS (
      SELECT doc_id, {_UC_D["host"]} AS host, {_UC_D["path"]} AS path,
             {_UC_D["cq"]} AS cq
      FROM u
    ),
    canon AS (SELECT doc_id, host, {_UC_D["curl"]} AS curl FROM hp),
    pages AS (
      SELECT host AS domain, curl, count(*) AS n_urls,
             min(doc_id) AS keeper
      FROM canon GROUP BY host, curl
    )
    SELECT domain,
           CAST(sum(n_urls) AS BIGINT)              AS n_urls,
           CAST(count(*) AS BIGINT)                 AS n_pages,
           CAST(sum(n_urls) - count(*) AS BIGINT)   AS n_dup_urls,
           CAST((1000000 * (sum(n_urls) - count(*))) {_UC_D["idiv"]}
                sum(n_urls) AS BIGINT)              AS dup_ppm
    FROM pages GROUP BY domain
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + domain-level dedup governance — the
    CommonCrawl-style curation step the text-side family didn't cover
    (VERDICT r13 #7): raw crawl URLs are canonicalized (scheme
    stripped, host lowercased, ``www.`` and default ``:443``/``:80``
    ports removed, fragment dropped, trailing slash trimmed,
    ``utm_*``/``fbclid``/``gclid`` tracking params deleted, surviving
    params SORTED) and collapsed to one page per canonical form, with
    the keeper = min doc_id and per-DOMAIN duplicate rates in exact
    integer ppm — the governance grain ``dq_duplication_report``
    reports at, now for the URL column class.

    The fixture has no URL column, so the raw URL is DERIVED
    deterministically inside the query from (source, doc_id) — the
    ``user_id % 2`` arm-assignment device — with adversarial variants
    planted by construction: scheme alternates, host case/www/port
    variants cycle with ``doc_id % 3``, and tracking-param suffixes
    with ``doc_id % 4``; 140 = 7 × the 20-source cycle makes each
    (source, page) cell ~7 raw variants of one canonical page.  Both
    engines evaluate the SAME expression text emitted by
    ``_url_canon_sql`` (dialect seams: ``div`` vs ``//``, ``STRING``
    vs ``VARCHAR``, ``array_join`` vs ``array_to_string``) — the
    canonicalization itself (split_part, filter lambda, array_sort,
    regexp_replace) is verbatim-shared.

    Plan: one scan → pure-projection canonicalization (all JVM
    built-ins, whole-stage codegen — no UDF) → page-grain hash agg →
    domain-grain hash agg.  Shuffle keys are |canonical pages| then
    |domains| — both vocabulary-bounded, the word-count shape; at
    100 TB this is scan-bound with two sub-linear exchanges.
    Reference heritage: none (SURVEY §2 charter extension, dedup
    family)."""
    e = _url_canon_sql("spark")
    pages = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("raw_url", F.expr(e["raw"]))
        .withColumn("u", F.expr(e["strip"]))
        .select(
            "doc_id",
            F.expr(e["host"]).alias("host"),
            F.expr(e["path"]).alias("path"),
            F.expr(e["cq"]).alias("cq"),
        )
        .select("doc_id", "host", F.expr(e["curl"]).alias("curl"))
        .groupBy(F.col("host").alias("domain"), "curl")
        .agg(F.count("*").alias("n_urls"), F.min("doc_id").alias("keeper"))
    )
    return pages.groupBy("domain").agg(
        F.sum("n_urls").cast("bigint").alias("n_urls"),
        F.count("*").cast("bigint").alias("n_pages"),
        (F.sum("n_urls") - F.count("*")).cast("bigint").alias("n_dup_urls"),
        F.expr(
            "CAST((1000000 * (sum(n_urls) - count(*))) div sum(n_urls)"
            " AS BIGINT)"
        ).alias("dup_ppm"),
    )


#: mirror detection requires non-trivial content: fingerprints over
#: fewer than this many distinct tokens (empty pages, boilerplate
#: stubs) are excluded BEFORE grouping — at web scale the degenerate
#: fingerprint class would otherwise collect arbitrarily many domains
#: into one row
_MIRROR_MIN_TYPES = 5


@query(
    "dedup_mirror_domains",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source || '.example.com' AS domain,
             md5(array_to_string(list_sort(list_distinct(
               regexp_extract_all(lower(text), '[a-z]+'))), ' ')) AS fp
      FROM documents
      WHERE len(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
            >= {_MIRROR_MIN_TYPES}
    )
    SELECT fp,
           CAST(count(*) AS BIGINT)                 AS n_docs,
           CAST(count(DISTINCT domain) AS BIGINT)   AS n_domains,
           CAST(min(doc_id) AS BIGINT)              AS keeper_doc_id,
           list_sort(list(DISTINCT domain))         AS domains
    FROM f GROUP BY fp
    HAVING count(DISTINCT domain) >= 2
    """,
)
def dedup_mirror_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain MIRROR detection — the CommonCrawl curation twin of
    ``dedup_url_canonical``: the same content served from MULTIPLE
    hosts (mirror sites, syndicated boilerplate, scraper re-hosts) is
    the dominant inter-domain duplication mode a crawl-scale corpus has
    to collapse BEFORE per-domain quality statistics mean anything.
    Content identity is the bag-of-words fingerprint ``md5(sorted
    distinct tokens)`` — robust to reflowing/reordering (the mirror
    transform) while cheap enough to be a pure projection; clusters
    spanning ≥ 2 distinct domains are reported with their doc count,
    domain census, keeper (min doc_id) and the SORTED domain list.
    Domain derives from ``source`` at the same grain as
    ``dedup_url_canonical``'s canonical host.

    Exactness: the fingerprint string is identical on both engines
    (distinct → lexicographic sort → space-join → md5, all
    order-insensitive by construction), the domain list compares as a
    sorted array (``array_sort(collect_set())`` ≡ ``list_sort(list(
    DISTINCT))``), counts are BIGINT.  Fingerprints over fewer than
    {_MIRROR_MIN_TYPES} distinct types are dropped BEFORE grouping —
    the degenerate empty/boilerplate class that would otherwise
    collect unboundedly many domains into one output row at web scale.

    Plan: one scan → per-doc fingerprint projection (HOF sort over the
    doc's own distinct tokens — per-row bounded) → ONE fp-grain hash
    agg (count + domain census + bounded collect_set) → HAVING filter.
    The shuffle key is the content fingerprint: mirror clusters are
    small by the min-types gate, so the agg is the word-count shape.
    Reference heritage: none (SURVEY §2 charter extension, dedup
    family)."""
    toks = F.array_distinct(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    )
    f = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            toks.alias("ts"),
        )
        .where(F.size("ts") >= _MIRROR_MIN_TYPES)
        .select(
            "doc_id",
            "domain",
            F.md5(F.array_join(F.array_sort("ts"), " ")).alias("fp"),
        )
    )
    return (
        f.groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("domain").cast("bigint").alias("n_domains"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.array_sort(F.collect_set("domain")).alias("domains"),
        )
        .where(F.col("n_domains") >= 2)
    )


#: per-domain boilerplate gate: a segment is boilerplate within its
#: domain when it occurs in at least this many DISTINCT documents of
#: that domain (the CCNet paragraph-hash rule, Wenzek et al. 2020)
BOILER_MIN_DF = 2
#: segment width in tokens — the line-grain stand-in: a real crawl
#: splits on newline/paragraph first; the fixture's documents are
#: single-line, so the segmenter is the fixed token window the
#: chunk-grain dedup family already uses (``dedup_chunk_exact``)
BOILER_SEG_TOKENS = 10


@query(
    "dedup_boilerplate_lines",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source || '.example.com' AS domain,
             regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    segs AS (
      SELECT doc_id, domain, len(w) AS nw, CAST(t.i AS BIGINT) AS i,
             md5(array_to_string(
               w[i*{BOILER_SEG_TOKENS}+1 : i*{BOILER_SEG_TOKENS}+{BOILER_SEG_TOKENS}],
               ' ')) AS seg
      FROM docs, unnest(range((len(w) + {BOILER_SEG_TOKENS - 1})
                              // {BOILER_SEG_TOKENS})) AS t(i)
    ),
    boiler AS (
      SELECT domain, seg FROM segs
      GROUP BY domain, seg
      HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    ),
    persg AS (
      SELECT s.doc_id, s.domain, s.nw,
             least({BOILER_SEG_TOKENS}, s.nw - s.i * {BOILER_SEG_TOKENS})
               AS ntok,
             CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END AS boiler
      FROM segs s LEFT JOIN boiler b
        ON b.domain = s.domain AND b.seg = s.seg
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(boiler) AS BIGINT) AS n_boiler_segments,
             CAST(sum(CASE WHEN boiler = 0 THEN ntok ELSE 0 END)
                  AS BIGINT) AS n_retained_tokens
      FROM persg GROUP BY doc_id
    )
    SELECT d.doc_id, d.domain,
           CAST(len(d.w) AS BIGINT) AS n_tokens,
           coalesce(p.n_segments, 0) AS n_segments,
           coalesce(p.n_boiler_segments, 0) AS n_boiler_segments,
           coalesce(p.n_retained_tokens, 0) AS n_retained_tokens,
           CAST(CASE WHEN len(d.w) = 0 THEN 1000000
                ELSE (1000000 * coalesce(p.n_retained_tokens, 0)) // len(d.w)
                END AS BIGINT) AS retained_ppm
    FROM docs d LEFT JOIN perdoc p USING (doc_id)
    """,
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOMAIN boilerplate segment removal (VERDICT r14 #6) — the
    CCNet/jusText curation step the line-grain family didn't cover
    (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data", LREC 2020: hash each paragraph,
    drop paragraphs whose hash repeats across documents — nav bars,
    footers, cookie banners repeat on every page of a site while real
    content doesn't).  Grain: the ``dedup_url_canonical`` domain
    (``source``-derived host); segment = {BOILER_SEG_TOKENS}-token
    window over the token stream (the fixture's documents are
    single-line, so the fixed window stands in for the newline split —
    the same chunk device as ``dedup_chunk_exact``); a segment is
    boilerplate within its domain when it appears in ≥ {BOILER_MIN_DF}
    DISTINCT documents of that domain.

    Output: one row per document with its segment census, boilerplate
    count, retained token count after dropping boilerplate segments,
    and the exact integer retained_ppm — the governance readout that
    feeds ``dq_duplication_report``-style corpus accounting.

    Plan: one scan → map-side tokenize + windowed md5 segments (pure
    projection, no UDF) → ONE (domain, seg) hash agg for the document
    frequencies, HAVING-gated to the REPEATED segments only (the
    boilerplate set — tiny relative to the corpus: unique segments,
    the overwhelming majority, never leave the aggregation) → equi-join
    of the segments back to that reduced set → per-doc rollup.  At
    100 TB: the df agg is the word-count shape with map-side partial
    aggregation; the join-back's build side holds only segments that
    REPEAT within a domain (bounded by per-domain template vocabulary,
    not corpus size), so AQE plans it as a broadcast at any realistic
    scale; everything shuffles at most twice, both on bounded keys.
    Reference heritage: none (SURVEY §2 charter extension, dedup
    family)."""
    W, MINDF = BOILER_SEG_TOKENS, BOILER_MIN_DF
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.regexp_extract_all(
                F.lower("text"), F.lit("[a-z]+"), 0
            ).alias("w"),
        )
        .withColumn("nw", F.size("w").cast("bigint"))
    )
    # windowed md5 segments; sequence() would emit a DESCENDING range
    # for nw = 0 — guard with an explicit empty array for token-less
    # docs (they surface via explode_outer with NULL seg)
    seg_arr = F.when(
        F.col("nw") == 0, F.expr("CAST(array() AS array<string>)")
    ).otherwise(
        F.expr(
            f"transform(sequence(0, int((nw + {W - 1}) div {W}) - 1),"
            f" i -> md5(array_join(slice(w, i*{W}+1, {W}), ' ')))"
        )
    )
    segs = docs.select(
        "doc_id",
        "domain",
        "nw",
        F.posexplode_outer(seg_arr).alias("i", "seg"),
    )
    boiler = (
        segs.where(F.col("seg").isNotNull())
        .groupBy("domain", "seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= MINDF)
        .select(
            F.col("domain").alias("bdomain"), F.col("seg").alias("bseg")
        )
    )
    persg = segs.join(
        boiler,
        (F.col("domain") == F.col("bdomain"))
        & (F.col("seg") == F.col("bseg")),
        "left",
    ).drop("bdomain")
    return (
        persg.groupBy("doc_id")
        .agg(
            F.first("domain").alias("domain"),
            F.first("nw").alias("n_tokens"),
            F.count("seg").cast("bigint").alias("n_segments"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("seg").isNotNull() & F.col("bseg").isNotNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_boiler_segments"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("seg").isNotNull() & F.col("bseg").isNull(),
                        F.least(F.lit(W).cast("bigint"), F.col("nw") - F.col("i") * W),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_retained_tokens"),
        )
        .select(
            "doc_id",
            "domain",
            "n_tokens",
            "n_segments",
            "n_boiler_segments",
            "n_retained_tokens",
            F.expr(
                "CAST(CASE WHEN n_tokens = 0 THEN 1000000"
                " ELSE (1000000 * n_retained_tokens) div n_tokens"
                " END AS BIGINT)"
            ).alias("retained_ppm"),
        )
    )


@query(
    "dedup_boilerplate_scrub",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source || '.example.com' AS domain,
             regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ),
    segs AS (
      SELECT doc_id, domain, len(w) AS nw, CAST(t.i AS BIGINT) AS i,
             array_to_string(
               w[i*{BOILER_SEG_TOKENS}+1 : i*{BOILER_SEG_TOKENS}+{BOILER_SEG_TOKENS}],
               ' ') AS seg_txt
      FROM docs, unnest(range((len(w) + {BOILER_SEG_TOKENS - 1})
                              // {BOILER_SEG_TOKENS})) AS t(i)
    ),
    boiler AS (
      SELECT domain, md5(seg_txt) AS seg FROM segs
      GROUP BY domain, md5(seg_txt)
      HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    ),
    keep AS (
      SELECT s.doc_id, s.i, s.seg_txt,
             least({BOILER_SEG_TOKENS}, s.nw - s.i * {BOILER_SEG_TOKENS})
               AS ntok
      FROM segs s LEFT JOIN boiler b
        ON b.domain = s.domain AND b.seg = md5(s.seg_txt)
      WHERE b.seg IS NULL
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(sum(ntok) AS BIGINT) AS n_retained_tokens,
             md5(string_agg(seg_txt, ' ' ORDER BY i)) AS retained_fp
      FROM keep GROUP BY doc_id
    )
    SELECT d.doc_id, d.domain,
           CAST(len(d.w) AS BIGINT) AS n_tokens,
           coalesce(p.n_retained_tokens, 0) AS n_retained_tokens,
           coalesce(p.retained_fp, md5('')) AS retained_fp
    FROM docs d LEFT JOIN perdoc p USING (doc_id)
    """,
)
def dedup_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCRUB twin of ``dedup_boilerplate_lines`` (the family
    convention ``dedup_substring_spans`` → ``dedup_substring_scrub``
    sets): actually MATERIALIZE the post-removal document — boilerplate
    segments dropped, surviving segments re-concatenated in original
    order — and emit its fingerprint plus the retained token count per
    document, so the downstream pipeline (packing, token budgeting,
    training-shard writes) consumes the cleaned text, not just the
    governance stats.  Same domain grain, same {BOILER_SEG_TOKENS}-token
    windowed segmentation, same ≥ {BOILER_MIN_DF}-distinct-doc df gate.

    The reassembly is order-exact on both engines: Spark sorts the
    per-doc (ordinal, segment) structs and joins with single spaces;
    DuckDB's ``string_agg(... ORDER BY i)`` produces the identical
    string, so the md5 fingerprints hash-match.  A document whose every
    segment is boilerplate (or with no tokens at all) scrubs to the
    EMPTY document — ``md5('')``, the pinned all-removed contract.

    Plan: identical to the stats twin (two bounded-key shuffles, the
    join-back build side gated to repeated segments) plus one per-doc
    collect_list of the doc's own surviving segments — per-row bounded
    by document length, the same per-doc fold every fingerprint op in
    the family runs.  Reference heritage: none (SURVEY §2 charter
    extension, dedup family)."""
    W, MINDF = BOILER_SEG_TOKENS, BOILER_MIN_DF
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.regexp_extract_all(
                F.lower("text"), F.lit("[a-z]+"), 0
            ).alias("w"),
        )
        .withColumn("nw", F.size("w").cast("bigint"))
    )
    seg_arr = F.when(
        F.col("nw") == 0, F.expr("CAST(array() AS array<string>)")
    ).otherwise(
        F.expr(
            f"transform(sequence(0, int((nw + {W - 1}) div {W}) - 1),"
            f" i -> array_join(slice(w, i*{W}+1, {W}), ' '))"
        )
    )
    segs = docs.select(
        "doc_id",
        "domain",
        "nw",
        F.posexplode_outer(seg_arr).alias("i", "seg_txt"),
    ).withColumn("seg", F.md5("seg_txt"))
    boiler = (
        segs.where(F.col("seg").isNotNull())
        .groupBy("domain", "seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= MINDF)
        .select(
            F.col("domain").alias("bdomain"), F.col("seg").alias("bseg")
        )
    )
    keep = (
        segs.join(
            boiler,
            (F.col("domain") == F.col("bdomain"))
            & (F.col("seg") == F.col("bseg")),
            "left",
        )
        .where(F.col("seg_txt").isNotNull() & F.col("bseg").isNull())
        .select(
            "doc_id",
            "i",
            "seg_txt",
            F.least(
                F.lit(W).cast("bigint"), F.col("nw") - F.col("i") * W
            ).alias("ntok"),
        )
    )
    perdoc = keep.groupBy("doc_id").agg(
        F.sum("ntok").cast("bigint").alias("n_retained_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "seg_txt"))),
                    lambda t: t.getField("seg_txt"),
                ),
                " ",
            )
        ).alias("retained_fp"),
    )
    empty_fp = F.md5(F.lit(""))
    return docs.join(perdoc, "doc_id", "left").select(
        "doc_id",
        "domain",
        F.col("nw").alias("n_tokens"),
        F.coalesce("n_retained_tokens", F.lit(0).cast("bigint")).alias(
            "n_retained_tokens"
        ),
        F.coalesce("retained_fp", empty_fp).alias("retained_fp"),
    )
