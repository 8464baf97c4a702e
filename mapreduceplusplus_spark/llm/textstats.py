"""Text-analysis operators for LLM-training-data pipelines (SURVEY.md
§2.B row ``text_analysis_stats`` + charter extensions ``text_lang_id``,
``text_quality_score``, ``text_token_count``, ``text_fingerprint``).

Reference heritage: generalization of the flagship tokenizer pipeline
(A2+A3+A7 — ``mr/word_count.h:22-31``) from corpus-global word counts to
per-document statistics.

Scale design: every operator here is a NARROW per-document map —
regexp + higher-order array expressions, no shuffle at all (the plans
are scan → project).  That is the ideal 100 TB shape: embarrassingly
parallel, whole-stage-codegen'd, no Python.  The one groupBy
(language distribution in ``text_analysis_stats``) aggregates ~5 rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.memo import memo
from mapreduceplusplus_spark.sources.tables import load_table

#: tiny per-language stopword lists for the n-gram/stopword lang-ID
#: heuristic.  Deliberately small: the operator contract is "argmax of
#: per-language evidence", not lexicon quality.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
}


def _toks(text_col) -> Column:
    return F.regexp_extract_all(F.lower(text_col), F.lit("[a-z]+"), 0)


def _stop_hits(toks: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) that are stopwords of
    ``lang`` — a size(filter(...)) expression, no explode/shuffle."""
    words = STOPWORDS[lang]

    def _is_stop(t: Column) -> Column:
        return t.isin(*words)

    return F.size(F.filter(toks, _is_stop))


def _duck_stop_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(ws, t -> list_contains([{lst}], t)))"


@query(
    "text_analysis_stats",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(ws) > 0
                      THEN list_aggregate(list_transform(ws, t -> len(t)), 'sum') * 1.0 / len(ws)
                      ELSE 0 END, 3)              AS avg_token_len,
           CAST(n_chars AS BIGINT)                AS n_chars
    FROM (SELECT doc_id, lang, n_chars,
                 regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents)
    """,
)
def text_analysis_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: token count, distinct tokens,
    mean token length — all higher-order array expressions over the
    tokenized text; a single narrow projection, no shuffle."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    ws = _toks(F.col("text"))
    d = docs.select("doc_id", "lang", "n_chars", ws.alias("ws"))
    tok_len_sum = F.aggregate(
        F.transform("ws", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return d.select(
        "doc_id",
        "lang",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_distinct"),
        F.round(
            F.when(F.size("ws") > 0, tok_len_sum * 1.0 / F.size("ws")).otherwise(0.0), 3
        ).alias("avg_token_len"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE greatest(en_s, de_s, fr_s, es_s)
                WHEN 0 THEN 'und'
                WHEN en_s THEN 'en'
                WHEN de_s THEN 'de'
                WHEN fr_s THEN 'fr'
                ELSE 'es' END AS pred_lang,
           CAST(greatest(en_s, de_s, fr_s, es_s) AS BIGINT) AS best_score
    FROM (SELECT doc_id, lang,
                 {_duck_stop_hits("en")} AS en_s,
                 {_duck_stop_hits("de")} AS de_s,
                 {_duck_stop_hits("fr")} AS fr_s,
                 {_duck_stop_hits("es")} AS es_s
          FROM (SELECT doc_id, lang,
                       regexp_extract_all(lower(text), '[a-z]+') AS ws
                FROM documents))
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language ID: per-language hit counts, argmax
    with a fixed precedence order (en > de > fr > es) for ties and
    'und' when no evidence.  The oracle checks the OPERATOR (same
    argmax over the same evidence), not the synthetic ``lang`` label —
    the fixture's text is language-agnostic vocab, so the label is
    unlearnable by construction and carried through as
    ``labeled_lang`` for comparison."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", _toks(F.col("text")).alias("ws"))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[_stop_hits(F.col("ws"), lg).alias(f"{lg}_s") for lg in STOPWORDS],
    )
    best = F.greatest(*[F.col(f"{lg}_s") for lg in STOPWORDS])
    pred = (
        F.when(best == 0, "und")
        .when(F.col("en_s") == best, "en")
        .when(F.col("de_s") == best, "de")
        .when(F.col("fr_s") == best, "fr")
        .otherwise("es")
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        best.cast("bigint").alias("best_score"),
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           round(alpha_ratio, 3)    AS alpha_ratio,
           round(stop_ratio, 3)     AS stop_ratio,
           round(0.5 * alpha_ratio + 0.3 * stop_ratio
                 + 0.2 * least(n_tok / 100.0, 1.0), 3) AS quality
    FROM (
      SELECT doc_id,
             CASE WHEN n_chars > 0
                  THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n_chars
                  ELSE 0 END AS alpha_ratio,
             CASE WHEN len(ws) > 0
                  THEN len(list_filter(ws, t -> list_contains(
                       ['the','and','of','to','a','in','is','it'], t))) * 1.0 / len(ws)
                  ELSE 0 END AS stop_ratio,
             len(ws) AS n_tok
      FROM (SELECT doc_id, text, n_chars,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents))
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score — weighted blend of
    alpha-character ratio, English-stopword ratio, and a saturating
    length prior (the C4/Gopher-style rule family).  Pure per-row
    expressions; the weights are the operator contract, not a claim
    about optimality."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    ws = _toks(F.col("text"))
    d = docs.select("doc_id", "text", "n_chars", ws.alias("ws"))
    alpha_ratio = F.when(
        F.col("n_chars") > 0,
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")) * 1.0 / F.col("n_chars"),
    ).otherwise(0.0)
    stop_ratio = F.when(
        F.size("ws") > 0, _stop_hits(F.col("ws"), "en") * 1.0 / F.size("ws")
    ).otherwise(0.0)
    d = d.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio_raw"),
        stop_ratio.alias("stop_ratio_raw"),
        F.size("ws").alias("n_tok"),
    )
    quality = (
        0.5 * F.col("alpha_ratio_raw")
        + 0.3 * F.col("stop_ratio_raw")
        + 0.2 * F.least(F.col("n_tok") / 100.0, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        F.round("alpha_ratio_raw", 3).alias("alpha_ratio"),
        F.round("stop_ratio_raw", 3).alias("stop_ratio"),
        F.round(quality, 3).alias("quality"),
    )


@query(
    "text_extras",
    oracle=f"""
    SELECT doc_id,
           CASE greatest(en_s, de_s, fr_s, es_s)
                WHEN 0 THEN 'und'
                WHEN en_s THEN 'en'
                WHEN de_s THEN 'de'
                WHEN fr_s THEN 'fr'
                ELSE 'es' END AS pred_lang,
           round(0.5 * alpha_ratio + 0.3 * stop_ratio
                 + 0.2 * least(n_tok / 100.0, 1.0), 3) AS quality,
           CAST(n_pretokens AS BIGINT) AS n_pretokens,
           bag_fp
    FROM (
      SELECT doc_id,
             {_duck_stop_hits("en")} AS en_s,
             {_duck_stop_hits("de")} AS de_s,
             {_duck_stop_hits("fr")} AS fr_s,
             {_duck_stop_hits("es")} AS es_s,
             CASE WHEN n_chars > 0
                  THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n_chars
                  ELSE 0 END AS alpha_ratio,
             CASE WHEN len(ws) > 0
                  THEN len(list_filter(ws, t -> list_contains(
                       ['the','and','of','to','a','in','is','it'], t))) * 1.0 / len(ws)
                  ELSE 0 END AS stop_ratio,
             len(ws) AS n_tok,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                 AS n_pretokens,
             md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_fp
      FROM (SELECT doc_id, text, n_chars,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents))
    """,
)
def text_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined differential for the four charter text-analysis
    extensions — one representative expression from each of
    ``text_lang_id`` (stopword-argmax prediction), ``text_quality_score``
    (the weighted quality blend), ``text_token_count`` (BPE-style
    pre-tokenizer count), and ``text_fingerprint`` (bag-of-words md5) in
    a SINGLE narrow projection with one DuckDB oracle.

    Rationale: the external correctness harness records a bounded number
    of query rows; this query buys a hard driver-side signal for all
    four operator families in one slot while the individually-named
    queries remain registered (and locally oracle-checked) for direct
    use.  Same 100 TB shape as the rest of the module: scan → project,
    zero shuffle, whole-stage codegen throughout."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "text", "n_chars", _toks(F.col("text")).alias("ws")
    ).select(
        "doc_id",
        *[_stop_hits(F.col("ws"), lg).alias(f"{lg}_s") for lg in STOPWORDS],
        F.when(
            F.col("n_chars") > 0,
            F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
            * 1.0
            / F.col("n_chars"),
        )
        .otherwise(0.0)
        .alias("alpha_ratio"),
        F.when(
            F.size("ws") > 0, _stop_hits(F.col("ws"), "en") * 1.0 / F.size("ws")
        )
        .otherwise(0.0)
        .alias("stop_ratio"),
        F.size("ws").alias("n_tok"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).alias("n_pretokens"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct("ws")))).alias("bag_fp"),
    )
    best = F.greatest(*[F.col(f"{lg}_s") for lg in STOPWORDS])
    pred = (
        F.when(best == 0, "und")
        .when(F.col("en_s") == best, "en")
        .when(F.col("de_s") == best, "de")
        .when(F.col("fr_s") == best, "fr")
        .otherwise("es")
    )
    quality = (
        0.5 * F.col("alpha_ratio")
        + 0.3 * F.col("stop_ratio")
        + 0.2 * F.least(F.col("n_tok") / 100.0, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.round(quality, 3).alias("quality"),
        F.col("n_pretokens").cast("bigint").alias("n_pretokens"),
        "bag_fp",
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_pretokens,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_whitespace,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: a BPE-style pre-tokenizer regex
    (letter runs | digit runs | single punctuation — the GPT-2
    pre-split shape), whitespace tokens, and the chars/4 BPE estimate.
    All regexp counts, map-side only."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("n_pretokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint")
        .alias("n_whitespace"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_bpe_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS exact_fp,
           md5(array_to_string(list_sort(list_distinct(
               regexp_extract_all(lower(text), '[a-z]+'))), ' ')) AS bag_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (md5 of raw text — byte-identical
    dup key) and bag-of-words (md5 of the sorted distinct token list —
    order/whitespace-insensitive dup key).  Fingerprints are THE exact
    dedup key at scale: group on 16 bytes instead of comparing
    documents."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    bag = F.concat_ws(
        " ", F.array_sort(F.array_distinct(_toks(F.col("text"))))
    )
    return docs.select(
        "doc_id",
        F.md5("text").alias("exact_fp"),
        F.md5(bag).alias("bag_fp"),
    )


@query(
    "text_repetition_filter",
    oracle="""
    SELECT doc_id,
           CAST(n_tok AS BIGINT)      AS n_tokens,
           CAST(n_dist AS BIGINT)     AS n_distinct,
           round(rep, 4)              AS repetition_ratio,
           round(top_frac, 4)         AS top_token_frac,
           (n_tok >= 5 AND rep <= 0.6 AND top_frac <= 0.3) AS keep
    FROM (
      SELECT doc_id, n_tok, n_dist,
             CASE WHEN n_tok > 0 THEN 1.0 - n_dist * 1.0 / n_tok ELSE 0.0 END AS rep,
             CASE WHEN n_tok > 0 THEN top_cnt * 1.0 / n_tok ELSE 0.0 END       AS top_frac
      FROM (
        SELECT doc_id,
               len(ws)                AS n_tok,
               len(list_distinct(ws)) AS n_dist,
               coalesce((SELECT max(cnt) FROM (
                   SELECT count(*) AS cnt FROM unnest(ws) AS t(w) GROUP BY w
               )), 0)                 AS top_cnt
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS ws
              FROM documents)
      )
    )
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rule
    family): per document, the token repetition ratio
    ``1 − distinct/total`` and the most-frequent-token fraction, plus
    the resulting keep/drop decision.  Boilerplate, keyword-stuffed,
    and degenerate generated text score high on both signals and are
    dropped before training.

    The top-token count is the longest run in the SORTED token array —
    one ``aggregate`` pass carrying (prev, run, best) state after an
    ``array_sort``: O(n log n) per doc instead of the naive
    O(distinct × total) count-each-distinct-token scan, which matters
    for 100k-token documents.  Everything stays a narrow zero-shuffle
    projection inside codegen'd higher-order expressions; the
    alternative explode → groupBy plan shuffles |corpus tokens| rows at
    100 TB.
    """
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    run_state = "struct(cast(null as string) as prev, 0 as run, 0 as best)"
    top_cnt = F.expr(
        f"""
        aggregate(
          array_sort(ws),
          {run_state},
          (s, x) -> named_struct(
            'prev', x,
            'run',  if(x <=> s.prev, s.run + 1, 1),
            'best', greatest(s.best, if(x <=> s.prev, s.run + 1, 1))),
          s -> s.best)
        """
    )
    d = docs.select(
        "doc_id", _toks(F.col("text")).alias("ws")
    ).select(
        "doc_id",
        F.size("ws").alias("n_tok"),
        F.size(F.array_distinct("ws")).alias("n_dist"),
        top_cnt.alias("top_cnt"),
    )
    rep = F.when(
        F.col("n_tok") > 0, 1.0 - F.col("n_dist") * 1.0 / F.col("n_tok")
    ).otherwise(0.0)
    top_frac = F.when(
        F.col("n_tok") > 0, F.col("top_cnt") * 1.0 / F.col("n_tok")
    ).otherwise(0.0)
    return d.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.col("n_dist").cast("bigint").alias("n_distinct"),
        F.round(rep, 4).alias("repetition_ratio"),
        F.round(top_frac, 4).alias("top_token_frac"),
        (
            (F.col("n_tok") >= 5) & (rep <= 0.6) & (top_frac <= 0.3)
        ).alias("keep"),
    )


#: PII patterns, written to the common subset of Java regex (Spark) and
#: RE2 (DuckDB): no backrefs, no lookaround, explicit [0-9] classes
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex.com call 555-867-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{PII_IP}')) AS BIGINT)    AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
               '{PII_IP}', '<IP>', 'g')) AS redacted_fp
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training corpus runs before
    anything else: count and mask emails, NANP-style phone numbers and
    IPv4 addresses.  The fixture corpus contains no natural PII, so the
    query first injects a deterministic doc_id-derived PII span into
    each document (both sides build the identical augmented text); the
    differential therefore pins the REDACTION MACHINERY — that Spark's
    Java-regex and DuckDB's RE2 engines agree match-for-match on the
    shared pattern subset, and that the masked output is byte-identical
    (compared by md5).

    Scale: three ``regexp_replace`` passes in one narrow projection —
    zero shuffle, whole-stage codegen, the same shape as every other
    textstats operator.  Real-world extension: swap the regex set for a
    vectorized NER model behind ``mapInPandas`` (same plumbing as
    ``multimodal_decode``)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com call 555-867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_IP), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.md5(redacted).alias("redacted_fp"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM freq),
    scored AS (
      SELECT t.doc_id, ln(f.c / (SELECT n FROM tot)) AS lp
      FROM tok t JOIN freq f ON f.w = t.w
    ),
    folded AS (
      -- sum in SORTED order so the float fold is order-independent
      -- and engine-identical
      SELECT doc_id,
             list_sum(list_sort(list(lp))) AS s,
             count(*) AS n
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT)     AS n_tokens,
           round(s / n, 2) + 0   AS mean_logprob
    FROM folded
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics language-model scoring: mean unigram
    log-probability per document under the corpus's own empirical
    unigram distribution — the classic cheap "does this read like the
    corpus" quality signal (low scores = boilerplate/garbage built
    from rare junk tokens; used alongside the rule-based
    ``text_quality_score``).

    Two-pass corpus-statistics pattern: (1) global token-frequency
    aggregation (integer counts — exact); (2) join frequencies back to
    the token stream and fold per document.  At 100 TB pass 1 is a
    vocabulary-sized hash agg and pass 2 a hash join the optimizer can
    broadcast when the vocabulary is small — the document scan is
    never shuffled twice.

    Determinism: the per-doc fold sums ``ln(freq/total)`` doubles in
    SORTED order (``sort_array`` + ``aggregate`` here,
    ``list_sort`` + ``list_sum`` in the oracle), so the summation
    order — and therefore the float result — is identical on any
    partitioning and in any engine (a plain SUM() shuffles-order the
    addends).  The remaining cross-engine risk is a last-ulp ``ln``
    difference, absorbed by the 2-decimal rounding."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(freq, "w")
        # broadcast-safe: total is a 1-row global aggregate
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c") / F.col("n")).alias("lp"))
    )
    folded = scored.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("lp")).alias("lps"),
        F.count("*").alias("n"),
    )
    s = F.aggregate("lps", F.lit(0.0), lambda acc, x: acc + x)
    return folded.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        (F.round(s / F.col("n"), 2) + F.lit(0)).alias("mean_logprob"),
    )


@query(
    "text_line_dedup",
    oracle="""
    -- DuckDB's list_distinct does NOT preserve element order, so the
    -- first-occurrence semantics are reconstructed explicitly: keep
    -- each line's minimum ordinal, re-concatenate in that order
    WITH lines AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS i
      FROM documents
    ),
    firsts AS (
      SELECT doc_id, line, min(i) AS mi FROM lines GROUP BY doc_id, line
    ),
    totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY doc_id
    ),
    uniq AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_unique_lines,
             md5(string_agg(line, chr(10) ORDER BY mi)) AS dedup_fp
      FROM firsts GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines, u.n_unique_lines, u.dedup_fp
    FROM totals t JOIN uniq u USING (doc_id)
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document line dedup — the boilerplate-stripping pass LLM
    corpus cleaning runs before inter-document dedup (repeated nav/
    footer lines inflate shingle overlap and token counts).  Pure
    Catalyst: split on newline, order-preserving ``array_distinct``
    (keeps the FIRST occurrence — semantics DuckDB's list_distinct
    matches), fingerprint the deduped text.  Zero shuffle, zero Python;
    at 100 TB this is a narrow map stage pipelined into the scan."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    dedup = F.array_distinct(lines)
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(dedup).cast("bigint").alias("n_unique_lines"),
        F.md5(F.array_join(dedup, "\n")).alias("dedup_fp"),
    )


@query(
    "text_idf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST((1000 * tf.tf * (n.n_docs + 1)) // (df.df + 1) AS BIGINT)
               AS score_milli,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY (1000 * tf.tf * (n.n_docs + 1))
                                         // (df.df + 1) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score_milli
    FROM scored WHERE rn <= 3
    """,
)
def text_idf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword-extraction
    signal (and the rarity-weighting idea behind the dedup prefix
    filter, ``llm/dedup.py``).  The score is kept RATIONAL instead of
    logarithmic: score = ⌊1000·tf·(N+1)/(df+1)⌋ — order-equivalent to
    tf·idf per fixed tf and exactly representable in BIGINT, so the
    ranking (and hash) is engine- and partitioning-identical, where a
    float ``ln()`` would differ in last bits between libm
    implementations.  Ties break lexicographically.

    At 100 TB: tokenize+tf is one (doc, term) hash agg off the scan;
    df is a second agg over the already-reduced tf table (hot terms are
    map-side combined); N broadcasts as a 1-row table; the top-3 window
    runs per-doc on the tf table, WindowGroupLimit-pruned before its
    exchange."""
    ensure_utc(spark)
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        # broadcast-safe: n is a 1-row global count
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score_milli",
            F.expr("(1000 * tf * (n_docs + 1)) div (df + 1)").cast("bigint"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_milli").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "score_milli")
    )


#: corpus-top-bigram count for the coverage signal
_TOP_BIGRAMS = 100


@query(
    "text_bigram_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bg
      FROM toks
    ),
    top AS (
      SELECT bg FROM (
        SELECT bg, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, bg) AS rn
        FROM bigrams GROUP BY bg
      ) WHERE rn <= {_TOP_BIGRAMS}
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT)                        AS n_bigrams,
           CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_top_hits
    FROM bigrams b LEFT JOIN top t ON b.bg = t.bg
    GROUP BY b.doc_id
    """,
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-coverage quality signal: how much of each document is
    built from the corpus's TOP-{K} word bigrams — high coverage flags
    templated/boilerplate text, near-zero coverage flags noise; both
    are pretraining-filter inputs (the bigram step up from the unigram
    signals in this module).  All-integer outputs → engine-exact.

    Two-pass shape like ``text_unigram_logprob``: (1) corpus bigram
    counts → deterministic top-K (count DESC, bigram) — a TINY table;
    (2) LEFT join the per-doc bigram stream against the broadcast top
    set and count hits per doc.  At 100 TB the bigram counts are
    map-side combined, the top-K is a TakeOrdered of a reduced table,
    and the coverage join is broadcast — the document stream shuffles
    once, on doc_id."""
    ensure_utc(spark)
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ws = _toks(F.col("text"))
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    z = F.arrays_zip(F.slice("ws", 1, k), F.slice("ws", 2, k))
    toks = docs.select("doc_id", ws.alias("ws"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(z, lambda x: F.concat_ws(" ", x["0"], x["1"]))
        ).alias("bg"),
    )
    counts = bigrams.groupBy("bg").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("bg"))
    top = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _TOP_BIGRAMS
    ).select("bg", F.lit(1).alias("hit"))
    return (
        # broadcast-safe: top is row_number-capped to a constant top-N
        bigrams.join(F.broadcast(top), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_top_hits"),
        )
    )


@query(
    "text_token_count_arrow",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def text_token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting through ``mapInArrow`` — the RecordBatch-level
    Python API one rung below ``mapInPandas`` (no pandas conversion at
    all: Arrow buffers in, Arrow buffers out, vectorized RE2 via
    ``pyarrow.compute``).  Same result as the JVM-side
    ``text_token_count``; this row pins the remaining Python-API
    surface the engine exposes for when a pipeline already speaks
    Arrow (zero-copy from Parquet readers, Rust/C++ UDF cores).

    Scale shape identical to every decode stage: narrow, no shuffle,
    one Python worker per split — but with pyarrow.compute the regex
    loop itself runs in C++, so the GIL never sees per-row work."""
    ensure_utc(spark)
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for batch in batches:
            lower = pc.utf8_lower(batch.column("text"))
            n = pc.count_substring_regex(lower, "[a-z]+")
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.cast(n, pa.int64())],
                ["doc_id", "n_tokens"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(count_tokens, schema="doc_id bigint, n_tokens bigint")


@query(
    "corpus_datasheet",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
               AS total_ws_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
    FROM documents
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus datasheet — the summary block every dataset
    card / "Datasheets for Datasets" report opens with: document and
    token volume, language/source diversity, and the length
    distribution (min/max/p50/p90).  ONE aggregation pass produces all
    nine numbers: counts and sums fold map-side, the two distinct
    counts expand in the same aggregate, and the exact interpolated
    percentiles reuse the ``agg_median`` equivalence (Spark
    ``percentile`` == DuckDB ``quantile_cont``).

    Scale: at 100 TB the exact percentiles are the only non-mergeable
    piece — swap them for ``percentile_approx`` (mergeable KLL-style
    sketch) and the whole datasheet computes in one map-side-combined
    pass with O(1) driver state; everything else is already exact and
    mergeable."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    return docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(ws).cast("bigint").alias("total_ws_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
    )


@query(
    "text_length_outliers_iqr",
    oracle="""
    WITH q AS (
      SELECT CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
                  AS BIGINT) AS q1,
             CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
                  AS BIGINT) AS q3
      FROM documents
    )
    SELECT d.doc_id,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           CASE WHEN 2 * d.n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1)
                THEN 'short'
                WHEN 2 * d.n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1)
                THEN 'long'
                ELSE 'ok' END AS side,
           (2 * d.n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1)
            OR 2 * d.n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1)) AS is_outlier
    FROM documents d, q
    """,
)
def text_length_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence length outliers: documents outside
    ``[Q1 - 1.5·IQR, Q3 + 1.5·IQR]`` — the standard first-pass length
    filter (truncated fragments below, concatenation accidents above)
    stated distribution-relative instead of as magic length constants,
    so it adapts per corpus (every doc is emitted with its verdict —
    the synthetic corpus's length distribution is fence-clean, which
    is itself the assertion).  The 1.5× fence is evaluated as the
    doubled integer inequality ``2·n < 2·Q1 − 3·IQR`` — quartiles are
    DISC (actual observed lengths, exact integers on both engines) and
    no float ever enters, so the boundary document set is engine-exact.

    Scale: the quartile pass is one aggregate (percentile_approx at
    100 TB); the fence broadcast back is 1 row; the filter is a
    narrow scan predicate."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_docs_iqr")
    q = docs.sparkSession.sql(
        """
        SELECT CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS q1,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS q3
        FROM _docs_iqr
        """
    )
    low = 2 * F.col("n_chars") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))
    high = 2 * F.col("n_chars") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
    # broadcast-safe: q is a 1-row global quartile aggregate
    return docs.join(F.broadcast(q)).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.when(low, "short").when(high, "long").otherwise("ok").alias("side"),
        (low | high).alias("is_outlier"),
    )


#: winnowing parameters: word-trigram hashes (k=3), selection window
#: w=4 — the scheme GUARANTEES any shared token run of length
#: ≥ w + k − 1 = 6 words produces at least one shared fingerprint
#: (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS algorithm)
_WIN_K, _WIN_W = 3, 4


@query(
    "text_winnowing_matches",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             [md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              for i in range(1, len(ws) - 1)] AS hs
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
      WHERE len(ws) >= {_WIN_K}
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_distinct(
               [list_aggregate(hs[i:i + {_WIN_W - 1}], 'min')
                for i in range(1, len(hs) - {_WIN_W} + 2)])) AS fp
      FROM g WHERE len(hs) >= {_WIN_W}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fp
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING count(*) >= 2
    """,
)
def text_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint matches (Schleimer et al., SIGMOD'03 — the
    MOSS plagiarism-detection algorithm): per document, hash the
    POSITIONAL word-trigram sequence, slide a w=4 window over the hash
    sequence, keep each window's minimum — then report document pairs
    sharing ≥ 2 selected fingerprints.  The selection guarantee is
    what distinguishes this from MinHash/Jaccard: ANY shared token run
    of length ≥ w + k − 1 = 6 words yields a shared fingerprint, so
    locally-copied passages surface even when global similarity is
    ~0 — the exact-substring detection layer of a dedup stack
    (complementing ``dedup_containment_quotes``, which needs most of
    the smaller DOC covered, and ``dedup_chunk_exact``, which needs
    alignment to fixed chunk boundaries; winnowing is
    alignment-free).  Fingerprint DENSITY is 2/(w+1) ≈ 40% of grams
    — the index is ~2.5× smaller than a full inverted index with a
    provable detection floor, which is the 100 TB point: you choose
    the storage/recall trade with (k, w), not with a lossy cap.

    Engine-exactness: the per-gram hash is the md5 HEX STRING and the
    window minimum is the LEXICOGRAPHIC min — identical in Spark and
    DuckDB (no numeric hash whose implementation could differ).
    Grams here are positional (NOT distinct-ed) — winnowing is defined
    over the gram SEQUENCE.

    Scale: fingerprint selection is a zero-shuffle codegen'd HOF
    projection per document; the only shuffle is the fingerprint
    equi-join (hot boilerplate fingerprints are the skew risk — AQE
    skew-split backstops, and raising w thins the index).  The ≥ 2
    shared-fingerprint floor suppresses single-collision noise.  The
    fingerprint table feeds BOTH self-join sides, so it is persisted
    via the shared dataset memo (``sources/memo.py``, like the
    containment postings — ``release()`` drops it); the md5+winnow stage
    runs once, not twice.  The scan is ``_spread`` first: a no-op on
    many-file inputs, one tiny shuffle on single-split fixtures so
    hashing parallelizes across the cluster."""
    # lazy import: keeps llm.dedup's registration position in the
    # module list unchanged (registry order invariant — see ADVICE r6
    # on advanced.py/tpch.py)
    from mapreduceplusplus_spark.llm.dedup import _spread

    ensure_utc(spark)
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))

    def _build_fp() -> DataFrame:
        toks = docs.select("doc_id", _toks(F.col("text")).alias("ws")).where(
            F.size("ws") >= _WIN_K
        )
        k = F.greatest(F.size("ws") - (_WIN_K - 1), F.lit(0))
        z = F.arrays_zip(*[F.slice("ws", j + 1, k) for j in range(_WIN_K)])
        grams = F.transform(
            z,
            lambda x: F.md5(F.concat_ws(" ", *[x[str(j)] for j in range(_WIN_K)])),
        )
        hs = toks.select("doc_id", grams.alias("hs")).where(
            F.size("hs") >= _WIN_W
        )
        fps = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - (_WIN_W - 1)),
                lambda i: F.array_min(F.slice("hs", i, _WIN_W)),
            )
        )
        return hs.select("doc_id", F.explode(fps).alias("fp")).persist()

    fp = memo(spark, sf_dir, "documents", "winnow_fp", _build_fp)
    return (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= 2)
    )


#: BM25 ranked-retrieval parameters (Robertson/Spärck Jones; the
#: Lucene-default shape): k1 saturates term frequency, b normalizes
#: document length, idf is ln(1 + (N − df + ½)/(df + ½)) ≥ 0.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("spark", "hash", "customer")
_BM25_TOPK = 20


def _bm25_sql() -> str:
    """DuckDB oracle assembled from the same per-term pieces the Spark
    side uses, in the same left-to-right order, so the double-precision
    score agrees bit-for-bit (same avg, same ln, same + chain)."""
    tf = ", ".join(
        f"len(list_filter(ws, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln(1 + (n - df{i} + 0.5)/(df{i} + 0.5))"
        f" * tf{i}*({_BM25_K1} + 1)"
        f"/(tf{i} + {_BM25_K1}*(1 - {_BM25_B} + {_BM25_B}*dl/avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tf AS (
      SELECT doc_id, len(ws) AS dl, {tf}
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents)
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl, {dfs}
      FROM tf
    ),
    scored AS (SELECT doc_id, {score} AS score FROM tf, stats)
    SELECT doc_id, round(score, 3) + 0 AS bm25,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """


@query("text_bm25_search", oracle=_bm25_sql())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: score every document against a fixed
    conjunctive-free term query and return the top-k — the classic
    relevance layer of a corpus search / retrieval-augmented pipeline
    (the ranking counterpart of ``text_idf_topterms``, which surfaces
    terms, not documents).  Okapi BM25 with the Lucene-shape
    nonnegative idf ``ln(1 + (N − df + ½)/(df + ½))``, k1=1.2, b=0.75.

    Scale shape (the reason BM25 fits 100 TB where a generic score-
    then-sort does not): per-term tf and doclen are ``size(filter(…))``
    expressions on the token array — ZERO explode, zero shuffle; the
    corpus statistics (N, avgdl, per-term df) reduce to ONE row which
    is broadcast back, so the scoring pass is map-side; the only
    "sort" is ``orderBy.limit(k)`` → TakeOrderedAndProject (per-
    partition heap + driver merge of k·P rows, never a global sort).
    Two scans of the corpus total (stats pass, scoring pass) — at
    100 TB you'd snapshot the 1-row stats instead of rescanning, which
    is exactly what the broadcast join models.  Zero-score documents
    (no query term present) are dropped before the heap.

    Engine-exactness: score is a 3-term ``+`` chain of doubles built
    in the same order as the oracle SQL; ties (identical tf vector and
    doclen → identical double) are broken by doc_id on both engines.
    Reference heritage: none (the reference engine has no retrieval;
    SURVEY §2 charter extension)."""
    from pyspark.sql import Window

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    ws = _toks(F.col("text"))
    def _is(t: str):
        # factory keeps the lambda exactly ONE-argument — pyspark
        # dispatches on arity, a default-arg closure would become the
        # (element, index) form (see _stop_hits / dedup._minhash)
        return lambda w: w == F.lit(t)

    tf_cols = [
        F.size(F.filter(ws, _is(t))).alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    tf = docs.select("doc_id", F.size(ws).alias("dl"), *tf_cols)
    stats = tf.agg(
        F.count("*").cast("double").alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    # broadcast-safe: stats is a 1-row global aggregate
    scored = tf.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            F.lit(1)
            + (F.col("n") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        part = (
            idf
            * F.col(f"tf{i}")
            * (_BM25_K1 + 1)
            / (
                F.col(f"tf{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    scored = scored.select("doc_id", score.alias("score")).where(
        F.col("score") > 0
    )
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return topk.select(
        "doc_id",
        (F.round("score", 3) + F.lit(0.0)).alias("bm25"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


#: heavy-hitter parameters: report terms whose corpus frequency
#: strictly exceeds 1/_HH_DEN of all tokens; _HH_K Misra-Gries
#: counters per Arrow batch (k+1 > 2·_HH_DEN, so the summed
#: decrement ledger E ≤ n/(k+1) < n/_HH_DEN keeps the filter lossless
#: AND unseen terms provably light).
_HH_DEN = 64
_HH_K = 256
#: special ledger keys — tokens are [a-z]+ only, so NUL-prefixed keys
#: cannot collide with a real term
_HH_NKEY, _HH_DKEY = "\x00n", "\x00d"


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM w),
    c AS (SELECT term, count(*) AS cnt FROM w GROUP BY term)
    SELECT term,
           CAST(cnt AS BIGINT) AS n_occurrences,
           CAST(cnt * 10000 // n AS BIGINT) AS share_bp
    FROM c, tot WHERE cnt * {_HH_DEN} > n
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-terms (heavy hitters) with an EXACT answer at sketch
    cost: every term whose corpus frequency strictly exceeds n/64,
    found by the classic two-pass scheme — a bounded-memory
    **Misra-Gries** summary per Arrow batch generates candidates, an
    exact count of ONLY the candidates verifies them.  This is the
    third member of the lossless-filter-then-verify signature family
    (``dedup_ngram_jaccard``'s prefix filter, ``join_fuzzy_editdist``'s
    q-grams), applied to frequency instead of similarity — and unlike
    a plain ``GROUP BY term`` it never materializes the full vocabulary
    shuffle (at 100 TB with web-scale vocab that shuffle IS the cost;
    MG carries ≤ k rows per batch regardless of vocabulary size).

    Losslessness is an arithmetic invariant, not a hope: each batch
    emits its token count n_b and its decrement count d_b alongside the
    ≤ k surviving counters; a term's merged counter undercounts its
    true frequency by at most E = Σ d_b (each decrement-all removes one
    occurrence per tracked term), and any term ABSENT from every
    summary has true count ≤ E.  With k+1 = 257 > 2·64, E ≤ n/257 <
    n/64 — so the candidate filter ``(lower + E)·64 > n`` provably
    keeps every true heavy hitter and unseen terms provably cannot
    qualify.  The ledger rides the same rows as the counters (NUL-
    prefixed keys no [a-z]+ token can collide with), so the whole
    decision stays distributed: totals are a 1-row re-aggregate,
    candidates a broadcast-joined filter — no driver collect.

    Scale: pass 1 is scan + mapInPandas (O(k) memory per batch) + a
    shuffle of ≤ k·#batches summary rows; pass 2 re-scans with the
    tiny candidate set broadcast and counts only matching tokens —
    map-side combined on ≤ |candidates| keys.  Integer basis points.
    Reference heritage: the reference's wordcount (``mr/word_count.h``)
    is the exact-count special case; MG is what it becomes when the
    vocabulary no longer fits the reducers."""
    import pandas as pd

    # lazy import — keeps llm.dedup's registration position unchanged
    from mapreduceplusplus_spark.llm.dedup import _spread

    ensure_utc(spark)
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(_toks(F.col("text")).alias("ws"))

    def _mg_partials(batches):
        for pdf in batches:
            cnt: dict[str, int] = {}
            n_b = 0
            d_b = 0
            for ws in pdf["ws"]:
                for t in ws:
                    n_b += 1
                    if t in cnt:
                        cnt[t] += 1
                    elif len(cnt) < _HH_K:
                        cnt[t] = 1
                    else:
                        d_b += 1
                        for key in list(cnt):
                            if cnt[key] == 1:
                                del cnt[key]
                            else:
                                cnt[key] -= 1
            if n_b == 0:
                continue
            terms = list(cnt) + [_HH_NKEY, _HH_DKEY]
            vals = list(cnt.values()) + [n_b, d_b]
            yield pd.DataFrame({"term": terms, "cnt": vals})

    def _build_partials() -> DataFrame:
        return (
            toks.mapInPandas(_mg_partials, "term string, cnt long")
            .groupBy("term")
            .agg(F.sum("cnt").alias("cnt"))
            .persist()
        )

    partials = memo(spark, sf_dir, "documents", "mg_partials", _build_partials)
    totals = (
        partials.where(F.col("term").isin(_HH_NKEY, _HH_DKEY))
        .groupBy()
        .pivot("term", [_HH_NKEY, _HH_DKEY])
        .sum("cnt")
        .select(F.col(f"`{_HH_NKEY}`").alias("n"), F.col(f"`{_HH_DKEY}`").alias("e"))
    )
    cand = (
        partials.where(~F.col("term").startswith("\x00"))
        # broadcast-safe: totals is a 1-row (n, E) scalar pair
        .crossJoin(F.broadcast(totals))
        .where((F.col("cnt") + F.col("e")) * _HH_DEN > F.col("n"))
        .select("term")
    )
    exploded = toks.select(F.explode("ws").alias("term"))
    # broadcast-safe: cand is bounded by the merged MG summary size
    # (≤ k terms above threshold can exist; the +E slack admits few more)
    exact = (
        exploded.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        # broadcast-safe: totals is a 1-row scalar pair
        exact.crossJoin(F.broadcast(totals))
        .where(F.col("cnt") * _HH_DEN > F.col("n"))
        .select(
            "term",
            F.col("cnt").cast("bigint").alias("n_occurrences"),
            F.expr("cnt * 10000 div n").cast("bigint").alias("share_bp"),
        )
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, '') AS ch
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           lang,
           CAST(len(ch) AS BIGINT) AS n_chars,
           round(-list_sum([
               (len(list_filter(ch, x -> x = c)) * 1.0 / len(ch))
               * log2(len(list_filter(ch, x -> x = c)) * 1.0 / len(ch))
               for c in list_sort(list_distinct(ch))
           ]), 3) + 0 AS char_entropy_bits
    FROM d
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the
    repetitiveness/garbage quality signal next to the rule-based
    ``text_quality_score`` and the LM-based ``text_unigram_logprob``:
    near-zero entropy flags single-character floods and template
    padding, abnormally HIGH entropy flags base64/binary junk posing
    as text — both standard pretraining drop rules.

    Determinism discipline (the repo's float contract): the per-doc
    character histogram comes from exact integer hash aggregations
    (explode → count per (doc, char) → collect), and the entropy sum
    folds over that histogram SORTED BY CHARACTER via a higher-order
    ``aggregate`` — identical addend order on any partitioning and in
    both engines (the oracle's ``list_sum`` runs over the same
    ``list_sort(list_distinct(...))`` order).  The ``+ 0`` guard
    normalizes the ``-0.0`` a uniform single-character doc produces
    (−1·log2(1) = −0.0).  The interpreted lambda touches only the
    ≤ ~100-entry histogram per doc, never the text: the first cut
    filtered the char array once PER DISTINCT CHAR (O(100·len)
    interpreted work — 6.1 s at sf0.1); this form is two JVM hash
    aggregations plus a 100-step fold (0.9 s, flat at 5×).  Shuffle
    unit is (doc_id, char) counts — bounded by 100·#docs, not corpus
    text.  Reference heritage: none (SURVEY §2 charter extension,
    text family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    ch = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), "")).alias("c"),
    )
    hist = ch.groupBy("doc_id", "lang", "c").agg(F.count("*").alias("k"))
    per_doc = hist.groupBy("doc_id", "lang").agg(
        F.sort_array(F.collect_list(F.struct("c", "k"))).alias("cs"),
        F.sum("k").cast("bigint").alias("n_chars"),
    )
    n = F.col("n_chars")

    def _term(acc, e):
        p = e["k"].cast("double") / n.cast("double")
        return acc + p * F.log2(p)

    ent = -F.aggregate(F.col("cs"), F.lit(0.0), _term)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.round(ent, 3) + F.lit(0.0)).alias("char_entropy_bits"),
    )


@query("text_compression_ratio")  # no SQL oracle: DuckDB has no zlib;
# pinned by tests/test_llm_ops.py (independent zlib recompute per doc,
# determinism, bounds)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate compression ratio per document — the third classic
    pretraining quality signal next to the rule blend and the entropy:
    text that compresses TOO well is repetitive boilerplate (the
    Gopher repetition gates' information-theoretic cousin), text that
    barely compresses is likely binary/base64 junk.  Computed with
    zlib level 6 (stdlib, fixed level so byte counts are stable) over
    UTF-8 bytes in an Arrow-vectorized scalar ``pandas_udf`` — the
    declared Python escape hatch, per-batch not per-row.  The ratio is
    reported in integer BASIS POINTS (``10000·deflated//raw``) so the
    result is bit-deterministic — no float division anywhere.

    Scale: map-side only (scan → UDF → project, no shuffle); zlib cost
    is linear in bytes and parallelizes with splits exactly like the
    multimodal decoders (measured flat at 5× for that family).
    Reference heritage: none (SURVEY §2 charter extension, text
    family)."""
    from pyspark.sql.functions import pandas_udf

    ensure_utc(spark)

    @pandas_udf("bigint")
    def deflated_len(s: pd.Series) -> pd.Series:
        import zlib

        return s.fillna("").map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        ).astype("int64")

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    out = docs.select(
        "doc_id",
        "lang",
        F.length(F.col("text")).cast("bigint").alias("n_chars"),
        deflated_len(F.col("text")).alias("n_deflated"),
        F.octet_length(F.col("text")).cast("bigint").alias("n_bytes"),
    )
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_deflated",
        F.expr("10000 * n_deflated div n_bytes").alias("ratio_bp"),
    )


#: the bigram-LM NLL CTE chain, ONE SQL definition shared by the
#: perplexity row and the pipeline gate built on it (the _SCORED_SQL
#: convention from llm/pipeline.py — hand-copied model SQL could
#: silently drift between the score and the gate)
NLL_CTES = """toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest([ws[i] for i in range(1, len(ws))]) AS w1,
             unnest([ws[i] || ' ' || ws[i+1]
                     for i in range(1, len(ws))]) AS bg
      FROM toks
    ),
    grp AS (
      SELECT doc_id, bg, w1, count(*) AS cnt FROM occ GROUP BY ALL
    ),
    c2 AS (SELECT bg, w1, sum(cnt) AS c2 FROM grp GROUP BY bg, w1),
    c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
    vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(ws) AS t FROM toks)
    ),
    w AS (
      SELECT bg,
             CAST(floor(ln(CAST(c2 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT)
               AS logp_micro
      FROM c2 JOIN c1 USING (w1) CROSS JOIN vocab
    ),
    nll AS (
      SELECT g.doc_id,
             CAST(sum(g.cnt) AS BIGINT)                      AS n_bigrams,
             CAST((-sum(g.cnt * w.logp_micro)) // sum(g.cnt) AS BIGINT)
                                                             AS nll_micro_nats
      FROM grp g JOIN w USING (bg)
      GROUP BY g.doc_id
    )"""


@query(
    "text_perplexity_bigram",
    oracle=f"""
    WITH {NLL_CTES}
    SELECT doc_id, n_bigrams, nll_micro_nats FROM nll
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity — the CCNet-style statistical
    quality filter (Wenzek et al., "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data", LREC'20): train a
    bigram MLE language model ON THE CORPUS ITSELF (add-one smoothing,
    ``p(w2|w1) = (c(w1 w2)+1) / (c(w1 ·)+V)``), then score every
    document by its average negative log-likelihood — documents whose
    word sequences are improbable under the corpus's own statistics
    (boilerplate, gibberish, wrong-language residue) surface with the
    highest values, documents made of common constructions score low.
    Reported in integer MICRO-NATS per bigram (perplexity =
    ``exp(nll/1e6)``); V is the corpus vocabulary size (distinct
    ``[a-z]+`` tokens, all positions).

    Bit-determinism uses the ``corpus_mixture_entropy`` device: each
    ``ln`` is QUANTIZED (``floor(ln(x)·1e6)`` as BIGINT) once per
    distinct count, so every downstream sum is exact integer
    arithmetic — a raw double Σ log p would be accumulation-order-
    dependent and flip last ulps between partitionings.  Division is
    integer ``div`` on non-negative operands (logp ≤ 0 always since
    ``c2+1 ≤ c1+V``), matching the oracle's ``//`` exactly.

    Scale: one documents scan → bigram explode (the only data-sized
    shuffle, pre-reduced per (doc, bigram) so repeated phrases ship
    once) → two Zipf-bounded hash aggregates for the model (bigram
    and unigram-context counts, both map-side combined) → model
    joined back on the bigram key → per-doc rollup.  The "model" is
    never collected: it stays a distributed relation, so a 100 TB
    corpus trains and scores in one job with no driver-side state —
    the reason perplexity filtering is expressible as pure relational
    algebra at all.  Reference heritage: none (SURVEY §2 charter
    extension, text-quality family)."""
    ensure_utc(spark)
    return doc_nll(spark, sf_dir)


def doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, nll_micro_nats) — the bigram-LM scoring
    frame shared by ``text_perplexity_bigram`` and the pipeline gate
    (``llm/pipeline.py::pipeline_perplexity_gate``).  SQL twin:
    ``NLL_CTES``."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.col("text")).alias("ws")
    )
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    z = F.arrays_zip(
        F.slice("ws", 1, k).alias("w1"), F.slice("ws", 2, k).alias("w2")
    )
    occ = docs.select(
        "doc_id", F.explode(z).alias("p")
    ).select(
        "doc_id",
        F.col("p.w1").alias("w1"),
        F.concat_ws(" ", "p.w1", "p.w2").alias("bg"),
    )
    # materialized ONCE (``iterate.truncate``):
    # grp feeds the c2→c1 model chain AND the final per-doc scoring
    # join — without it Catalyst re-executes the scan+explode subplan
    # per consumer (4 documents scans in the executed plan; 2 after)
    grp = truncate(
        occ.groupBy("doc_id", "bg", "w1")
        .agg(F.count("*").alias("cnt"))
    )
    c2 = grp.groupBy("bg", "w1").agg(F.sum("cnt").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        docs.select(F.explode("ws").alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )

    from mapreduceplusplus_spark.session import qln_micro as _qln

    # broadcast-safe: vocab is a 1-row scalar aggregate
    w = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            (_qln(F.col("c2") + 1) - _qln(F.col("c1") + F.col("v"))).alias(
                "logp_micro"
            ),
        )
    )
    return (
        grp.join(w, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.expr("(-sum(cnt * logp_micro)) div sum(cnt)")
            .cast("bigint")
            .alias("nll_micro_nats"),
        )
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM toks WHERE len(ws) > 0),
    tf AS (
      SELECT doc_id, unnest(ws) AS term FROM toks
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY ALL),
    df AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
    scored AS (
      SELECT t.doc_id, t.term, t.tf,
             t.tf * (CAST(floor(ln(CAST(n.n_docs AS DOUBLE)) * 1000000)
                          AS BIGINT)
                     - CAST(floor(ln(CAST(d.df AS DOUBLE)) * 1000000)
                            AS BIGINT))              AS score_micro
      FROM tfc t JOIN df d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score_micro DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction — top-3 terms by TF-IDF, the
    classic document-indexing / topic-surfacing primitive (and the
    document-side dual of ``text_bm25_search``, which ranks DOCUMENTS
    for a query; this ranks TERMS for a document).  ``score = tf ·
    (ln N − ln df)`` with the logs QUANTIZED to integer micro-nats
    (the ``corpus_mixture_entropy`` device) so scores are exact
    BIGINTs and the per-doc top-3 is bit-deterministic under any
    partitioning; ties break lexicographically on the term.

    Scale: token explode → (doc, term) hash count (map-side combined)
    → document-frequency rollup on the term key (vocabulary-bounded,
    Zipf) → df joined back on term → per-doc window top-3.  The
    window partitions by doc_id — millions of small partitions, the
    well-conditioned case — and Spark plans the rank-filter as
    ``WindowGroupLimit`` (per-partition top-k heap before the full
    sort).  N (docs with ≥1 token) is a 1-row broadcast.  Reference
    heritage: generalization of the reference's corpus-global word
    count (``mr/word_count.h:22-31``) to per-document scoring.
    """
    ensure_utc(spark)
    from pyspark.sql import Window

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.col("text")).alias("ws")
    )
    n = toks.where(F.size("ws") > 0).agg(F.count("*").alias("n_docs"))
    tfc = (
        toks.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tfc.groupBy("term").agg(F.count("*").alias("df"))

    from mapreduceplusplus_spark.session import qln_micro as _qln

    # broadcast-safe: n is a 1-row scalar aggregate
    scored = (
        tfc.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * (_qln(F.col("n_docs")) - _qln(F.col("df")))).alias(
                "score_micro"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "term"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            "score_micro",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


#: the interpolated Kneser-Ney model chain as oracle CTEs — built on
#: the same (grp, c2) relations as NLL_CTES but keeping w2 so the
#: continuation counts exist; discount D = 3/4 keeps every probability
#: an exact integer ratio (see text_perplexity_kneser_ney docstring)
KN_CTES = """toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest([ws[i] for i in range(1, len(ws))]) AS w1,
             unnest([ws[i+1] for i in range(1, len(ws))]) AS w2,
             unnest([ws[i] || ' ' || ws[i+1]
                     for i in range(1, len(ws))]) AS bg
      FROM toks
    ),
    grp AS (
      SELECT doc_id, bg, w1, w2, count(*) AS cnt FROM occ GROUP BY ALL
    ),
    c2 AS (SELECT bg, w1, w2, sum(cnt) AS c2 FROM grp GROUP BY bg, w1, w2),
    c1 AS (SELECT w1, sum(c2) AS c1, count(*) AS n1fwd
           FROM c2 GROUP BY w1),
    cont AS (SELECT w2, count(*) AS ncont FROM c2 GROUP BY w2),
    ntypes AS (SELECT count(*) AS nt FROM c2),
    w AS (
      SELECT bg,
             CAST(floor(ln(CAST((4 * c2 - 3) * nt + 3 * n1fwd * ncont
                                AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(4 * c1 * nt AS DOUBLE)) * 1000000)
                    AS BIGINT)                             AS logp_micro
      FROM c2 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN ntypes
    ),
    knnll AS (
      SELECT g.doc_id,
             CAST(sum(g.cnt) AS BIGINT)                      AS n_bigrams,
             CAST((-sum(g.cnt * w.logp_micro)) // sum(g.cnt) AS BIGINT)
                                                             AS nll_micro_nats
      FROM grp g JOIN w USING (bg)
      GROUP BY g.doc_id
    )"""


@query(
    "text_perplexity_kneser_ney",
    oracle=f"""
    WITH {KN_CTES}
    SELECT doc_id, n_bigrams, nll_micro_nats FROM knnll
    """,
)
def text_perplexity_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney bigram
    LM (Kneser & Ney 1995; Chen & Goodman 1999) — the smoothing every
    production n-gram filter (KenLM, the CCNet pipeline's actual LM)
    uses instead of ``text_perplexity_bigram``'s add-one: add-one
    steals far too much mass from seen events, while KN discounts each
    seen bigram by a fixed D and backs off to the CONTINUATION
    probability (in how many distinct contexts does w2 appear?), so
    frequent-but-context-bound words (collocation tails) stop inflating
    unseen-word likelihood.  ``p(w2|w1) = (c(w1 w2) − D)/c(w1·) +
    D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|``.

    Exactness device: D = 3/4 keeps p an exact integer RATIO —
    ``p = num/den`` with ``num = (4·c2 − 3)·T + 3·n1fwd·ncont`` and
    ``den = 4·c1·T`` (T = bigram type count; c2 ≥ 1 always since the
    corpus scores itself, so num ≥ T > 0) — which makes ``ln p =
    qln(num) − qln(den)`` two applications of THE shared quantized-ln
    device (``session.qln_micro``) on integers, and every downstream
    sum exact integer arithmetic.  A float-interpolated KN (the
    textbook ``a + b·c`` of doubles) would be the one place in the
    module where ln(a + b) CANNOT decompose and cross-engine bit-drift
    could enter; the common-denominator form removes the addition of
    doubles entirely.

    Scale: identical shape to ``doc_nll`` — one documents scan →
    per-doc pre-reduced bigram explode (the only data-sized shuffle)
    → Zipf-bounded model aggregates (bigram, context, continuation,
    one 1-row type count) → broadcast-joined scoring.  The two extra
    model relations (n1fwd folded into c1's aggregate, cont keyed by
    w2) are vocabulary-sized; the model never collects to the driver.
    Reference heritage: none (SURVEY §2 charter extension,
    text-quality family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.col("text")).alias("ws")
    )
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    z = F.arrays_zip(
        F.slice("ws", 1, k).alias("w1"), F.slice("ws", 2, k).alias("w2")
    )
    occ = docs.select("doc_id", F.explode(z).alias("p")).select(
        "doc_id",
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
        F.concat_ws(" ", "p.w1", "p.w2").alias("bg"),
    )
    # materialized once: grp feeds the model chain AND the final
    # scoring join (the doc_nll convention — without it Catalyst
    # re-executes the scan+explode subplan per consumer)
    grp = truncate(
        occ.groupBy("doc_id", "bg", "w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    # c2 is ALSO materialized: unlike doc_nll (2 consumers), the KN
    # model chain reads it four times (c1, cont, ntypes, the scoring
    # join) — without this the corpus-sized grp is re-aggregated per
    # consumer (plan audit r13: 4 redundant hash aggs of grp)
    c2 = truncate(
        grp.groupBy("bg", "w1", "w2")
        .agg(F.sum("cnt").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1fwd")
    )
    cont = c2.groupBy("w2").agg(F.count("*").alias("ncont"))
    ntypes = c2.agg(F.count("*").alias("nt"))

    from mapreduceplusplus_spark.session import qln_micro as _qln

    # broadcast-safe: ntypes is a 1-row scalar aggregate
    w = (
        c2.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select(
            "bg",
            (
                _qln(
                    (4 * F.col("c2") - 3) * F.col("nt")
                    + 3 * F.col("n1fwd") * F.col("ncont")
                )
                - _qln(4 * F.col("c1") * F.col("nt"))
            ).alias("logp_micro"),
        )
    )
    return (
        grp.join(w, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.expr("(-sum(cnt * logp_micro)) div sum(cnt)")
            .cast("bigint")
            .alias("nll_micro_nats"),
        )
    )


#: feature-hashing dimensionality (2^3 buckets — small enough that the
#: oracle states every bucket column explicitly)
_FHASH_DIM = 8

_FHASH_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 8"
)


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    b AS (
      SELECT doc_id, {_FHASH_BUCKET_SQL} AS bucket FROM occ
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           {", ".join(f"CAST(count(CASE WHEN bucket = {i} THEN 1 END) AS BIGINT) AS b{i}" for i in range(_FHASH_DIM))}
    FROM b GROUP BY doc_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. ICML'09) — fixed-
    {_FHASH_DIM}-dimensional bag-of-words features with no vocabulary
    table at all: each token maps to ``hash(token) mod {_FHASH_DIM}``
    and the document's feature vector is the per-bucket count.  The
    vectorizer every large-scale linear/logistic text model uses when
    the vocabulary is unbounded or adversarial (new tokens can never
    grow the feature space, so the model relation is fixed-width by
    construction — the property that matters at 100 TB).

    Portability device: the bucket is the first NIBBLE of ``md5(token)``
    mod {_FHASH_DIM} via an ``instr``-on-hex-alphabet lookup — md5 is
    the one keyed hash both engines compute identically on strings
    (``xxhash64`` is Spark-only, DuckDB ``hash()`` is DuckDB-only; the
    md5-rank reservoir rows already rely on this).  Buckets are then
    exact integer counts — no float, no rounding.

    Plan: one scan → explode → map-side bucket expression → ONE
    per-doc hash aggregate with {_FHASH_DIM} conditional counts (no
    pivot shuffle, no per-bucket pass).  Columnar output (b0..b{_FHASH_DIM - 1})
    keeps the frame joinable as a feature table.  Reference heritage:
    none (SURVEY §2 charter extension, text/ML-features family)."""
    ensure_utc(spark)
    occ = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("w")
    )
    b = occ.select(
        "doc_id",
        F.expr(
            "(instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 8"
        ).alias("bucket"),
    )
    return b.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        *[
            F.count(F.when(F.col("bucket") == i, 1))
            .cast("bigint")
            .alias(f"b{i}")
            for i in range(_FHASH_DIM)
        ],
    )


#: vocabulary coverage grid — "how much of the corpus do the top-k
#: types cover": the vocab-sizing readout every tokenizer design doc
#: opens with
_COVER_KS = [5, 10, 20]


@query(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM tf
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t,
                   count(*) AS n_types FROM tf),
    grid AS (SELECT unnest({_COVER_KS}) AS k)
    SELECT CAST(g.k AS BIGINT) AS top_k,
           CAST(count(r.rn) AS BIGINT) AS n_types_used,
           CAST(coalesce(sum(r.c), 0) AS BIGINT) AS covered_tokens,
           CAST(coalesce(sum(r.c), 0) * 1000000 // t.t AS BIGINT)
             AS covered_ppm
    FROM grid g
    CROSS JOIN tot t
    LEFT JOIN ranked r ON r.rn <= g.k
    WHERE t.t > 0
    GROUP BY g.k, t.t
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE curve — what fraction of all token
    occurrences the top-k most frequent types cover, at k ∈
    {_COVER_KS}: the Zipf-complement readout (``text_zipf_slope``
    fits the law; this reports its consequence) that sizes
    tokenizer vocabularies and stopword lists — if the top 500 types
    cover 90% of the corpus, a 500-entry embedding table serves 90%
    of lookups.

    Exactness: type frequencies are exact integers; the rank is the
    deterministic (count DESC, term ASC) total order; coverage is
    integer ppm floor division.  Empty corpus: the 1-row global ``tot``
    aggregate emits t = NULL even over zero types, so both sides guard
    ``WHERE t > 0`` — 0 output rows, not 3 NULL-ppm rows (ADVICE r13:
    the guard was previously claimed but not stated).

    Plan: one corpus-scale explode + hash agg (the word-count shape,
    map-side combined) → ONE window over the VOCABULARY relation
    (Zipf-bounded, the ``text_bpe_train`` argument — this is not a
    data-sized sort) → a {len(_COVER_KS)}-row literal grid
    range-joined against the ranked relation and rolled up.
    Reference heritage: the ranked word-count readout is the closest
    cousin of the reference demo's sorted word counts
    (``mr/word_count.h``), upgraded to a coverage integral."""
    ensure_utc(spark)
    from pyspark.sql import Window

    tf = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_toks(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = truncate(tf.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "w"))
        .alias("rn"),
    ))
    tot = ranked.agg(
        F.sum("c").cast("bigint").alias("t"), F.count("*").alias("n_types")
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _COVER_KS])).alias("k")
    )
    # broadcast-safe: grid is the literal 3-row k grid; tot is 1 row.
    # t > 0 guard: tot emits one t=NULL row even over an empty corpus
    # (ADVICE r13) — the guard makes both engines emit 0 rows there
    return (
        grid.crossJoin(F.broadcast(tot))
        .where(F.col("t") > 0)
        .join(F.broadcast(ranked), F.col("rn") <= F.col("k"), "left")
        .groupBy("k", "t")
        .agg(
            F.count("rn").cast("bigint").alias("n_types_used"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.expr("CAST(coalesce(sum(c), 0) * 1000000 div t AS BIGINT)").alias(
                "covered_ppm"
            ),
        )
        .select(
            F.col("k").cast("bigint").alias("top_k"),
            "n_types_used",
            "covered_tokens",
            "covered_ppm",
        )
    )


#: hashed-classifier feature space (2^10 buckets — the hashing-trick
#: model is a fixed D-row weight relation regardless of vocabulary)
#: and the stand-in weight span (milli-units in [-1000, 1000])
QCLS_D = 1024
QCLS_WSPAN = 2001


@query(
    "text_quality_classifier_hashed",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w,
             generate_subscripts(
               regexp_extract_all(lower(text), '[a-z]+'), 1) AS pos
      FROM documents
    ),
    feats AS (
      SELECT doc_id, w AS f FROM occ
      UNION ALL
      SELECT a.doc_id, a.w || ' ' || b.w AS f
      FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    model AS (
      SELECT g AS bucket,
             CAST(('0x' || substr(md5('w:' || CAST(g AS VARCHAR)), 1, 10))
                  AS BIGINT) % {QCLS_WSPAN} - 1000 AS w_milli
      FROM generate_series(0, {QCLS_D - 1}) t(g)
    ),
    fb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('q:' || f), 1, 10)) AS BIGINT)
               % {QCLS_D} AS bucket
      FROM feats
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(m.w_milli) AS BIGINT) AS sum_w_milli,
           round(CAST(sum(m.w_milli) AS DOUBLE) / count(*), 3) + 0
             AS mean_w_milli,
           (sum(m.w_milli) >= 0) AS keep
    FROM fb JOIN model m USING (bucket)
    GROUP BY doc_id
    """,
)
def text_quality_classifier_hashed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HASHED LINEAR QUALITY CLASSIFIER — the fastText shape (Joulin
    et al. 2016, *Bag of Tricks for Efficient Text Classification*)
    that CCNet, RefinedWeb, and DCLM use as the model-based document
    quality gate (distinct from ``text_quality_score``'s heuristic
    ratio gate): features are unigrams PLUS adjacent word bigrams,
    each hashed into a fixed {QCLS_D}-bucket space (the
    ``text_feature_hashing`` trick — the model stays a {QCLS_D}-row
    weight relation no matter how adversarial the vocabulary), the
    document's logit is the mean bucket weight, and ``keep`` is the
    sign test.

    The weights here are a DETERMINISTIC STAND-IN (md5-derived
    milli-unit integers — no trained artifact exists in this
    environment); in production the relation is the trained fastText
    linear head, loaded as a {QCLS_D}-row table.  Everything the
    engine is responsible for is real and pinned: the feature
    construction, the engine-portable bucket hash (the repo-wide
    ``conv(md5,16,10)`` ≡ ``('0x'||hex)::BIGINT`` device), the
    BROADCAST model join, and the exact-integer per-doc aggregation.

    Plan: one scan → in-array bigram zip_with (no self-join — the
    oracle's pos+1 self-join is the deliberately-naive form) → explode
    → map-side bucket hash → broadcast {QCLS_D}-row model join → ONE
    per-doc hash aggregate (map-side partial).  At 100 TB: features
    are linear in corpus tokens, the model is an O(D) broadcast, the
    only shuffle is the doc_id aggregation.  Integer-exact throughout
    (milli-unit BIGINT sums; the mean is one IEEE division of exact
    operands, the proven round(,3) device).  Docs with zero [a-z]
    tokens have no features and emit no row, the
    ``text_feature_hashing`` convention.  Reference heritage: none
    (SURVEY §2 charter extension, text/LLM-pipeline family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = _toks(F.col("text"))
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = docs.select(
        "doc_id", F.explode(F.concat(t, bigrams)).alias("f")
    )
    fb = feats.select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("q:"), F.col("f"))), 1, 10
                ),
                16,
                10,
            ).cast("long")
            % QCLS_D
        ).alias("bucket"),
    )
    model = spark.range(QCLS_D).select(
        F.col("id").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("w:"), F.col("id").cast("string"))
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long")
            % QCLS_WSPAN
            - 1000
        ).alias("w_milli"),
    )
    # broadcast-safe: the model is the fixed QCLS_D-row weight relation
    scored = fb.join(F.broadcast(model), "bucket")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("w_milli").cast("bigint").alias("sum_w_milli"),
        )
        .select(
            "doc_id",
            "n_feats",
            "sum_w_milli",
            (
                F.round(
                    F.col("sum_w_milli").cast("double") / F.col("n_feats"),
                    3,
                )
                + F.lit(0.0)
            ).alias("mean_w_milli"),
            (F.col("sum_w_milli") >= 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# encoding-damage audit — the ftfy/C4-shape mojibake gate (r16)
# ---------------------------------------------------------------------------

#: mojibake-signature pattern, built from LITERAL characters (not
#: dialect escapes) so the SAME pattern text is valid Java regex and
#: RE2: 'Ã'+continuation (UTF-8-as-Latin-1 damage for U+00C0-U+00FF,
#: e.g. é→Ã©), 'â€' (smart-quote/dash damage â€™ â€œ â€”), and
#: 'Â'+Latin-1-punctuation (Â° Â£ Â· — the stray-Â damage)
_MOJI_PAT = (
    "Ã[" + chr(0x80) + "-" + chr(0xBF) + "]"
    "|â€"
    "|Â[" + chr(0xA0) + "-" + chr(0xBF) + "]"
)
#: C0 controls except \t \n \r — the same \xNN class syntax is valid
#: in Java regex and RE2, and SQL single-quoted strings pass the
#: backslashes through untouched in both engines
_CTRL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
#: keep thresholds (ppm of characters): any U+FFFD is damage by
#: definition; mojibake/control rates get a small allowance so a
#: single stray artifact in a long document doesn't drop it
MOJI_PPM_MAX = 2000
CTRL_PPM_MAX = 500


@query(
    "text_encoding_quality",
    oracle=f"""
    SELECT doc_id, n_repl, n_moji, n_ctrl,
           CASE WHEN n_chars > 0
                THEN (2 * 1000000 * n_moji + n_chars) // (2 * n_chars)
                ELSE 0 END AS moji_ppm,
           CASE WHEN n_chars > 0
                THEN (2 * 1000000 * n_ctrl + n_chars) // (2 * n_chars)
                ELSE 0 END AS ctrl_ppm,
           (n_repl = 0
            AND CASE WHEN n_chars > 0
                     THEN (2 * 1000000 * n_moji + n_chars) // (2 * n_chars)
                     ELSE 0 END < {MOJI_PPM_MAX}
            AND CASE WHEN n_chars > 0
                     THEN (2 * 1000000 * n_ctrl + n_chars) // (2 * n_chars)
                     ELSE 0 END < {CTRL_PPM_MAX}) AS keep
    FROM (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(
               text, chr(65533), '', 'g')) AS BIGINT) AS n_repl,
             CAST(len(regexp_extract_all(text, '{_MOJI_PAT}'))
                  AS BIGINT) AS n_moji,
             CAST(len(regexp_extract_all(text, '{_CTRL_PAT}'))
                  AS BIGINT) AS n_ctrl
      FROM documents)
    """,
)
def text_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODING-DAMAGE audit per document — the ftfy-shape gate the
    C4/CCNet cleaning recipes apply before any content heuristic:
    text that survived a broken decode pipeline carries machine-visible
    scars, and each scar class gets an exact integer census:

    - ``n_repl``: U+FFFD replacement characters — a decoder already
      REPLACED bytes it could not interpret; any occurrence is damage
      (counted as a length delta under single-char removal, no regex
      dialect involved);
    - ``n_moji``: classic UTF-8-read-as-Latin-1/Win-1252 signatures
      (``Ã©``-class continuation pairs, ``â€``-class smart-quote
      damage, stray-``Â`` punctuation) — the high-precision subset of
      ftfy's detector, counted with ONE pattern string built from
      literal characters so Java regex and RE2 parse it identically;
    - ``n_ctrl``: C0 control characters other than tab/newline/CR —
      binary junk embedded in "text".

    Rates are exact half-up integer ppm over the document's character
    count (positive operands, so Spark ``div`` == DuckDB ``//`` ==
    floor — no float division anywhere, the output hashes are
    integer-stable), and ``keep`` applies the documented thresholds
    (zero tolerance for U+FFFD, {MOJI_PPM_MAX}/{CTRL_PPM_MAX} ppm
    allowances for the rate classes).  At 100 TB this is one
    stateless map-side projection per document — no shuffle, no
    joins; it composes with ``pipeline_clean_corpus``'s gate family
    the way the quality classifier does.  The synthetic fixture is
    clean by construction (every census 0, every doc kept) — the
    OPERATOR is exercised by the Hypothesis corpus in
    ``tests/test_properties.py``, which synthesizes damaged documents
    and pins all three censuses against an independent pure-Python
    ``re`` model (a third regex dialect, so the pattern SEMANTICS are
    pinned, not just cross-engine agreement).  Reference heritage:
    none (SURVEY §2 charter extension, text-analysis family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("bigint")
    n_repl = (
        F.length("text")
        - F.length(F.regexp_replace("text", "�", ""))
    ).cast("bigint")
    n_moji = F.regexp_count("text", F.lit(_MOJI_PAT)).cast("bigint")
    n_ctrl = F.regexp_count("text", F.lit(_CTRL_PAT)).cast("bigint")
    d = docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_repl"),
        n_moji.alias("n_moji"),
        n_ctrl.alias("n_ctrl"),
    )

    def _ppm(n: str) -> Column:
        return F.when(
            F.col("n_chars") > 0,
            F.expr(
                f"(2 * 1000000 * {n} + n_chars) div (2 * n_chars)"
            ),
        ).otherwise(F.lit(0).cast("bigint"))

    return d.select(
        "doc_id",
        "n_repl",
        "n_moji",
        "n_ctrl",
        _ppm("n_moji").alias("moji_ppm"),
        _ppm("n_ctrl").alias("ctrl_ppm"),
        (
            (F.col("n_repl") == 0)
            & (_ppm("n_moji") < MOJI_PPM_MAX)
            & (_ppm("n_ctrl") < CTRL_PPM_MAX)
        ).alias("keep"),
    )
