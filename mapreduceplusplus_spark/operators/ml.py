"""Iterative ML on the engine: k-means (Lloyd) over the embeddings
table, expressed relationally and QUANTIZED so that every iteration is
integer-exact — the one formulation under which a distributed Lloyd
run is bit-identical to a sequential reference implementation
(floating-point centroid means are accumulation-order-dependent, so a
naive float Lloyd can legitimately diverge between engines/partitionings
at the second iteration; quantized arithmetic removes the ambiguity
and lets the DuckDB oracle unroll the SAME two iterations in SQL).

Scheme: each float dim is quantized to micro-units
(round(1e6·x) ∈ [−1e6, 1e6]) then shifted by +2²¹ so all values are
nonnegative (half-up integer means need a sign-free domain: Spark's
``div`` truncates toward zero while DuckDB's ``//`` floors, and the
two disagree on negatives — the shift is distance-invariant).
Distances are Σ(q−c)² in BIGINT (64 dims × (2²¹)² ≈ 2.8e14, far
inside the range); centroid updates are half-up integer means
((2·Σq + n) // (2n)); argmin ties break on the lower cluster id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import load_table

_K = 4
_SHIFT = 1 << 21

#: the two unrolled quantized Lloyd iterations as SQL CTEs ending in
#: A2(vec_id, cid, dist) — shared by the ml_kmeans_lloyd oracle and
#: the dedup_semdedup oracle (llm/dedup.py), which gates its
#: within-cluster pair search on the SAME assignment
KMEANS_A2_SQL = f"""E AS (
      SELECT vec_id, ord AS dim,
             -- CAST to DOUBLE before scaling: DuckDB would otherwise
             -- multiply in FLOAT and quantize a different value than
             -- Spark's double-precision product
             CAST(round(1000000 * CAST(u AS DOUBLE)) AS BIGINT) + {_SHIFT} AS q
      FROM (SELECT vec_id,
                   unnest(embedding) AS u,
                   generate_subscripts(embedding, 1) AS ord
            FROM embeddings)
    ),
    C0 AS (SELECT vec_id AS cid, dim, q AS c FROM E WHERE vec_id < {_K}),
    D1 AS (
      SELECT e.vec_id, c.cid,
             CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist
      FROM E e JOIN C0 c ON c.dim = e.dim
      GROUP BY e.vec_id, c.cid
    ),
    A1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM D1) WHERE rn = 1
    ),
    C1 AS (
      SELECT a.cid, e.dim,
             CAST((2 * sum(e.q) + count(*)) // (2 * count(*)) AS BIGINT) AS c
      FROM E e JOIN A1 a ON a.vec_id = e.vec_id
      GROUP BY a.cid, e.dim
    ),
    D2 AS (
      SELECT e.vec_id, c.cid,
             CAST(sum((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist
      FROM E e JOIN C1 c ON c.dim = e.dim
      GROUP BY e.vec_id, c.cid
    ),
    A2 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM D2) WHERE rn = 1
    )"""


@query(
    "ml_kmeans_lloyd",
    oracle=f"""
    WITH {KMEANS_A2_SQL}
    SELECT CAST(cid AS BIGINT) AS cid,
           count(*) AS n_members,
           CAST(sum(dist) AS BIGINT) AS sum_sqdist
    FROM A2 GROUP BY cid
    """,
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's algorithm), k=4, TWO unrolled iterations with
    deterministic init (the first k vectors by ``vec_id``), run
    entirely as DataFrame algebra over the exploded (vec, dim, value)
    relation — the iterative-ML capability demonstration, with the
    DuckDB oracle executing the IDENTICAL two quantized iterations in
    SQL (see module docstring for why quantization is what makes a
    distributed Lloyd oracle-checkable at all).

    Dataflow per iteration: distances = exploded-vectors ⋈ broadcast
    centroid rows (k·d = 256 rows) grouped by (vec, cluster); argmin =
    per-vector window (hash-partitioned on vec_id, WindowGroupLimit-
    pruned); update = one hash agg per (cluster, dim).  The exploded
    relation is truncated once and reused by all four
    consumers.  At 100 TB: centroids stay k·d rows (broadcast side),
    vectors shuffle once per iteration on vec_id — the same shape
    MLlib's k-means uses, minus its driver-side centroid state.  A
    production run would loop until convergence via the
    ``iterate.fixpoint`` driver; two
    fixed iterations keep the oracle finite.

    Output: per-cluster membership count and total squared distance
    (the inertia decomposition), all BIGINT."""
    ensure_utc(spark)
    a2 = kmeans_assignments(spark, sf_dir)
    return a2.groupBy(F.col("cid").cast("bigint").alias("cid")).agg(
        F.count("*").alias("n_members"),
        F.sum("dist").cast("bigint").alias("sum_sqdist"),
    )


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two unrolled quantized Lloyd iterations as DataFrame
    algebra, returning the final assignment ``(vec_id, cid, dist)`` —
    the Spark twin of ``KMEANS_A2_SQL``, shared by ``ml_kmeans_lloyd``
    (inertia readout) and ``dedup_semdedup`` (cluster gate).  See
    ``ml_kmeans_lloyd`` for the dataflow and the module docstring for
    the quantization contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = truncate(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "u")
        )
        .select(
            "vec_id",
            "dim",
            (
                F.round(F.lit(1000000) * F.col("u").cast("double")).cast(
                    "bigint"
                )
                + _SHIFT
            ).alias("q"),
        )
    )

    def assign(centroids: DataFrame, with_dist: bool) -> DataFrame:
        d = (
            # broadcast-safe: centroids is k*d rows (constant,
            # config-bounded)
            e.join(F.broadcast(centroids), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
                .cast("bigint")
                .alias("dist")
            )
        )
        # argmin as a PACKED-BIGINT min AGGREGATE, not a row_number
        # window (r17): dist is an exact BIGINT (micro-unit L2²) and
        # cid < _K, so min(dist·_K + cid) is the identical
        # (dist ASC, cid ASC) lexicographic order packed into one
        # hash-aggregable integer — the window form paid a full
        # per-partition SORT of the N·k distance rows on both sides
        # of its exchange, and a min(struct) falls back to
        # SortAggregate; the packed form is a plain HashAggregate
        # with map-side partial application (guide §2.4: same key,
        # no ordered pass anywhere).  No overflow under ANSI: dist ≤
        # 64·(2·10⁶·|u|max)² ≈ 10¹⁵ for unit-scale embeddings, and
        # ·4 stays far under 2⁶³ (an adversarial corpus would RAISE
        # loudly under ANSI, never mis-assign).
        a = d.groupBy("vec_id").agg(
            F.min(F.col("dist") * _K + F.col("cid")).alias("m")
        )
        return (
            a.select(
                "vec_id",
                (F.col("m") % _K).alias("cid"),
                F.expr(f"m div {_K}").alias("dist"),
            )
            if with_dist
            else a.select("vec_id", (F.col("m") % _K).alias("cid"))
        )

    c0 = e.where(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), "dim", F.col("q").alias("c")
    )
    a1 = assign(c0, with_dist=False)
    c1 = (
        e.join(a1, "vec_id")
        .groupBy("cid", "dim")
        .agg(F.expr("CAST((2 * sum(q) + count(*)) div (2 * count(*)) AS BIGINT)").alias("c"))
    )
    return assign(c1, with_dist=True)


@query(
    "ml_naive_bayes",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    occ AS (SELECT doc_id, lang, unnest(ws) AS w FROM toks),
    doc_tf AS (SELECT doc_id, lang, w, count(*) AS cnt FROM occ GROUP BY ALL),
    cls AS (
      SELECT lang AS c, count(*) AS n_docs, sum(n_tok) AS n_tok
      FROM (SELECT doc_id, any_value(lang) AS lang, sum(cnt) AS n_tok
            FROM doc_tf GROUP BY doc_id)
      GROUP BY lang
    ),
    vocab AS (SELECT DISTINCT w FROM occ),
    vsize AS (SELECT count(*) AS v FROM vocab),
    wc AS (SELECT w, lang AS c, sum(cnt) AS cw FROM doc_tf GROUP BY w, lang),
    weights AS (
      SELECT vo.w, cl.c,
             CAST(floor(ln(CAST(coalesce(wc.cw, 0) + 1 AS DOUBLE)) * 1000000)
                  AS BIGINT)
             - CAST(floor(ln(CAST(cl.n_tok + vs.v AS DOUBLE)) * 1000000)
                    AS BIGINT) AS lw
      FROM vocab vo CROSS JOIN cls cl CROSS JOIN vsize vs
      LEFT JOIN wc ON wc.w = vo.w AND wc.c = cl.c
    ),
    scored AS (
      SELECT d.doc_id, any_value(d.lang) AS lang_actual, wt.c,
             CAST(floor(ln(CAST(any_value(cl.n_docs) AS DOUBLE)) * 1000000)
                  AS BIGINT)
             + sum(d.cnt * wt.lw) AS score
      FROM doc_tf d
      JOIN weights wt ON wt.w = d.w
      JOIN cls cl ON cl.c = wt.c
      GROUP BY d.doc_id, wt.c
    ),
    pred AS (
      SELECT doc_id, any_value(lang_actual) AS lang_actual,
             (max({'s': score, 'c': c})).c AS lang_pred
      FROM scored GROUP BY doc_id
    )
    SELECT lang_actual, lang_pred, count(*) AS n_docs
    FROM pred GROUP BY lang_actual, lang_pred
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND
    applied over the documents table in one relational job, reported
    as the (actual, predicted) confusion matrix — the second ML-family
    row (next to the iterative ``ml_kmeans_lloyd``): NB is the
    canonical "training is just counting" model, which is exactly why
    it scales — the model IS two hash aggregates.

    Model: class priors = document counts per lang; add-one-smoothed
    token likelihoods ``P(w|c) = (c(w,c)+1)/(tok(c)+V)``.  Scores use
    the quantized-ln device (``floor(ln·1e6)`` per distinct count →
    BIGINT sums), so the per-doc argmax is bit-deterministic under any
    partitioning; argmax ties break on the max (score, lang) struct —
    the SAME total order in both engines.  Smoothing matters
    structurally: unseen (w, c) pairs must contribute the smoothed
    floor penalty, so the weight relation is built on vocab × classes
    (Zipf-bounded × ≤5) with a LEFT join to observed counts — an inner
    join would silently DROP unseen terms and bias toward classes with
    larger vocabularies.

    Scale: token explode → per-(doc, w) pre-reduce (repeated words
    ship once) → two model aggregates (both vocabulary-bounded) →
    per-doc scoring join with a ≤|classes| fan-out → argmax → a ≤25-row
    confusion rollup.  No driver-side model, no iteration, no floats
    in any accumulated path.  Self-training on the scored corpus keeps
    the row self-contained; a train/apply split is ``sample_split``
    composed upstream.  Reference heritage: none (SURVEY §2 charter
    extension, ML family)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0).alias(
            "ws"
        ),
    )
    occ = docs.select("doc_id", "lang", F.explode("ws").alias("w"))
    # PERSISTED (r17, guide §2.4/§5): doc_tf feeds four consumers (the
    # class priors, the vocabulary, the per-(w, c) counts, and the
    # scoring join) and each re-ran the regexp tokenize + explode +
    # pre-reduce from parquet — the plan audit counted 12 parquet
    # scans / 38 Exchanges for one query.  An InMemoryRelation
    # materializes the token counts once and KEEPS LINEAGE (an
    # executor loss recomputes — the fault-tolerance bar VERDICT r16
    # set for barriers); no forcing action, so the first executing
    # stage fills the cache within the same job.
    doc_tf = (
        occ.groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    per_doc = doc_tf.groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"), F.sum("cnt").alias("n_tok")
    )
    cls = per_doc.groupBy(F.col("lang").alias("c")).agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tok")
    )
    # same set as distinct-over-occ: every occurrence survives the
    # per-(doc, lang, w) pre-reduce with its w intact
    vocab = doc_tf.select("w").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    wc = doc_tf.groupBy("w", F.col("lang").alias("c")).agg(
        F.sum("cnt").alias("cw")
    )

    from mapreduceplusplus_spark.session import qln_micro as _qln

    # broadcast-safe: cls is ≤|langs| rows, vsize is 1 row
    weights = (
        vocab.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(vsize))
        .join(wc, ["w", "c"], "left")
        .select(
            "w",
            "c",
            (
                _qln(F.coalesce(F.col("cw"), F.lit(0)) + 1)
                - _qln(F.col("n_tok") + F.col("v"))
            ).alias("lw"),
        )
    )
    prior = cls.select("c", _qln(F.col("n_docs")).alias("lp"))
    scored = (
        doc_tf.join(weights, "w")
        # broadcast-safe: prior is ≤|langs| rows
        .join(F.broadcast(prior), "c")
        .groupBy("doc_id", "c")
        .agg(
            F.any_value("lang").alias("lang_actual"),
            (F.any_value("lp") + F.sum(F.col("cnt") * F.col("lw"))).alias(
                "score"
            ),
        )
    )
    pred = scored.groupBy("doc_id").agg(
        F.any_value("lang_actual").alias("lang_actual"),
        F.max(
            F.struct(F.col("score").alias("s"), F.col("c").alias("c"))
        )["c"].alias("lang_pred"),
    )
    return pred.groupBy("lang_actual", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )


@query(
    "ml_ols_normal_equations",
    oracle="""
    WITH m AS (
      SELECT count(*)                                    AS n,
             sum(x1)                                     AS s1,
             sum(x2)                                     AS s2,
             sum(y)                                      AS sy,
             sum(CAST(x1 AS DECIMAL(38,0)) * x1)         AS s11,
             sum(CAST(x2 AS DECIMAL(38,0)) * x2)         AS s22,
             sum(CAST(x1 AS DECIMAL(38,0)) * x2)         AS s12,
             sum(CAST(x1 AS DECIMAL(38,0)) * y)          AS s1y,
             sum(CAST(x2 AS DECIMAL(38,0)) * y)          AS s2y
      FROM (SELECT CAST(l_quantity AS BIGINT)                      AS x1,
                   CAST(round(l_discount * 10000) AS BIGINT)       AS x2,
                   CAST(round(l_extendedprice * 100) AS BIGINT)    AS y
            FROM lineitem)
    ),
    d AS (
      SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
             CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
             CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
             CAST(s12 AS DOUBLE) AS s12, CAST(s1y AS DOUBLE) AS s1y,
             CAST(s2y AS DOUBLE) AS s2y
      FROM m
    ),
    sol AS (
      SELECT n,
             (n * s11 - s1 * s1)   AS a11,
             (n * s12 - s1 * s2)   AS a12,
             (n * s22 - s2 * s2)   AS a22,
             (n * s1y - s1 * sy)   AS c1,
             (n * s2y - s2 * sy)   AS c2,
             s1, s2, sy
      FROM d
    ),
    beta AS (
      -- degenerate-system guard (ADVICE r9, the events_ab_cuped
      -- device): collinear features make det = 0 exactly (integer
      -- moments -> identical doubles on both engines), so CASE to
      -- NULL instead of IEEE +/-Inf division
      SELECT n, s1, s2, sy,
             CASE WHEN a11 * a22 - a12 * a12 = 0 THEN NULL
                  ELSE (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12)
             END AS b1,
             CASE WHEN a11 * a22 - a12 * a12 = 0 THEN NULL
                  ELSE (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12)
             END AS b2
      FROM sol
    )
    SELECT CAST(n AS BIGINT)                              AS n,
           round((sy - b1 * s1 - b2 * s2) / n, 4)         AS b0,
           round(b1, 6)                                   AS b1,
           round(b2, 6)                                   AS b2
    FROM beta
    """,
)
def ml_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares solved in CLOSED FORM from
    the normal equations — the third ML-family row and the pattern
    that generalizes ``agg_linear_trend`` (1 feature) to multiple
    regression: ONE distributed pass accumulates the exact Gram /
    moment matrix (9 integer sums, quadratic products in
    DECIMAL(38,0) — the ``agg_linear_trend`` overflow discipline),
    then the 2×2 centered system solves by Cramer's rule in a
    structurally-identical IEEE expression per engine (the
    ``events_ab_cuped`` device: exact integer moments → deterministic
    double chain; no per-row float accumulation, so partitioning
    cannot move a bit).  Model: extendedprice_cents ~ quantity +
    discount_bp over lineitem.

    At 100 TB the data pass is a single map-side-combined aggregate —
    the model fit costs one scan regardless of cluster size, the
    classic "ML on the warehouse" shape (k features ⇒ a k²-cell Gram
    aggregate, driver-side k×k solve).  Reference heritage: none
    (SURVEY §2 charter extension, ML family)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(dec("x1") * F.col("x1")).alias("s11"),
        F.sum(dec("x2") * F.col("x2")).alias("s22"),
        F.sum(dec("x1") * F.col("x2")).alias("s12"),
        F.sum(dec("x1") * F.col("y")).alias("s1y"),
        F.sum(dec("x2") * F.col("y")).alias("s2y"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    d = m.select(*[dbl(c).alias(c) for c in
                   ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y",
                    "s2y")])
    sol = d.select(
        "n", "s1", "s2", "sy",
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")).alias("a11"),
        (F.col("n") * F.col("s12") - F.col("s1") * F.col("s2")).alias("a12"),
        (F.col("n") * F.col("s22") - F.col("s2") * F.col("s2")).alias("a22"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")).alias("c1"),
        (F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy")).alias("c2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    # degenerate-system guard (ADVICE r9, the events_ab_cuped device):
    # collinear features make det = 0 exactly — the moments are exact
    # integers, so both engines compute the identical double and take
    # the identical CASE branch; NULL coefficients instead of IEEE
    # ±Inf/NaN (b0 then nulls through its arithmetic on both sides)
    def _safe(num: Column) -> Column:
        return F.when(det != 0, num / det)

    beta = sol.select(
        "n", "s1", "s2", "sy",
        _safe(F.col("c1") * F.col("a22") - F.col("c2") * F.col("a12"))
        .alias("b1"),
        _safe(F.col("c2") * F.col("a11") - F.col("c1") * F.col("a12"))
        .alias("b2"),
    )
    return beta.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("sy") - F.col("b1") * F.col("s1")
             - F.col("b2") * F.col("s2")) / F.col("n"), 4
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
    )


#: k-NN classifier: every KNN_CLS_MOD-th vector is a held-out probe,
#: classified by majority label of its KNN_CLS_K nearest corpus
#: neighbors (leave-the-probes-out evaluation)
KNN_CLS_MOD = 25
KNN_CLS_K = 7


@query(
    "ml_knn_classifier",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, label AS true_label,
             CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {KNN_CLS_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {KNN_CLS_MOD} <> 0
    ),
    topk AS (
      SELECT probe_id, true_label, label FROM (
        SELECT p.probe_id, p.true_label, c.label,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                            c.v, p.pv)) AS BIGINT) DESC,
                          c.vec_id) AS rnk
        FROM probes p CROSS JOIN corpus c
      ) WHERE rnk <= {KNN_CLS_K}
    ),
    votes AS (
      SELECT probe_id, true_label, label, count(*) AS cnt
      FROM topk GROUP BY ALL
    )
    SELECT probe_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(label AS BIGINT) AS pred_label,
           CAST(cnt AS BIGINT) AS n_votes,
           CAST(label = true_label AS BIGINT) AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY cnt DESC, label) AS rn
          FROM votes)
    WHERE rn = 1
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification over the embeddings table —
    the third classical-ML row (after Lloyd k-means and Naive Bayes)
    and the evaluation shape every embedding-quality check runs:
    hold out a probe set, classify each probe by the majority label of
    its k nearest corpus neighbors, report prediction vs true label.
    Votes tie-break deterministically (count DESC, label ASC); the
    neighbor RANKING is on the integer micro-cosine
    ``round(10⁶·cos)`` (the ``sim_search_mmr_rerank`` device, ADVICE
    r13: ranking raw doubles left a latent cross-engine ULP
    tie-sensitivity — Spark folds dot/(norm·norm) while DuckDB's
    ``list_cosine_similarity`` is a different expression tree; after
    quantization a mathematical tie lands on the SAME micro value in
    both engines and the vec_id tiebreak decides identically).

    Plan: identical physical shape to ``sim_search_knn_join`` —
    broadcast nested-loop of the bounded probe set over one corpus
    scan, per-probe top-k via WindowGroupLimit (each task keeps ≤ k
    rows per probe BEFORE the exchange), then two tiny hash aggregates
    (vote count, argmax via ``min(struct(-cnt, label))`` — no second
    window).  At 100 TB the corpus side never shuffles for the join;
    beyond ~10k probes, LSH-bucket both sides first
    (``sim_search_lsh``'s layout).  Reference heritage: none (SURVEY
    §2 charter extension, ML family)."""
    ensure_utc(spark)
    from mapreduceplusplus_spark.llm.similarity import _as_double, _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % KNN_CLS_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        F.expr(_as_double("embedding")).alias("pv"),
    ).withColumn("npv", F.expr(_norm("pv")))
    # norms hoisted per VECTOR (r14, bit-identical — the
    # sim_search_knn_join note): the interpreted fold runs
    # |corpus| + |probes| times instead of 2·|pairs|, and mod-25
    # probes make this the family's largest pair relation
    corpus = emb.where(F.col("vec_id") % KNN_CLS_MOD != 0).select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    ).withColumn("nv", F.expr(_norm("v")))
    # broadcast-safe: probes is the documented bounded probe set
    # micro-cosine EXACTLY as mmr_rerank's `mc` device: cosine first,
    # then ×10⁶ — `(10⁶·dot)/norms` associates differently and can
    # differ by 1 ULP from the oracle's 10⁶·list_cosine_similarity
    scored = corpus.join(F.broadcast(probes)).withColumn(
        "s",
        F.round(
            F.lit(1000000)
            * (
                F.expr(_dot("v", "pv"))
                / (F.col("nv") * F.col("npv"))
            )
        ).cast("bigint"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= KNN_CLS_K
    )
    votes = topk.groupBy("probe_id", "true_label", "label").agg(
        F.count("*").alias("cnt")
    )
    return (
        votes.groupBy("probe_id", "true_label")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
            ).alias("s")
        )
        .select(
            "probe_id",
            F.col("true_label").cast("bigint").alias("true_label"),
            F.col("s.l").cast("bigint").alias("pred_label"),
            (-F.col("s.nc")).cast("bigint").alias("n_votes"),
            (F.col("s.l") == F.col("true_label"))
            .cast("bigint")
            .alias("correct"),
        )
    )


@query(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
      SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    tot AS (SELECT count(*) AS n, sum(y) AS pos FROM pts),
    vals AS (SELECT x, count(*) AS cnt, sum(y) AS pos_cnt
             FROM pts GROUP BY x),
    cum AS (
      SELECT x,
             sum(cnt)     OVER (ORDER BY x) AS n_l,
             sum(pos_cnt) OVER (ORDER BY x) AS pos_l
      FROM vals
    ),
    scored AS (
      SELECT x AS threshold, n_l, pos_l,
             n - n_l AS n_r, pos - pos_l AS pos_r,
             (1000000 * pos_l * (n_l - pos_l)) // n_l
             + (1000000 * (pos - pos_l) * ((n - n_l) - (pos - pos_l)))
               // (n - n_l)                       AS imp_micro
      FROM cum CROSS JOIN tot
      WHERE n - n_l > 0
    ),
    best AS (
      SELECT * FROM scored ORDER BY imp_micro, threshold LIMIT 1
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(imp_micro AS BIGINT) AS imp_micro,
           CAST(2 * pos_l > n_l AS BIGINT)  AS pred_left,
           CAST(2 * pos_r > n_r AS BIGINT)  AS pred_right,
           CAST(CASE WHEN 2 * pos_l > n_l THEN pos_l ELSE 0 END
              + CASE WHEN 2 * pos_r > n_r THEN pos_r ELSE 0 END
              AS BIGINT) AS true_pos,
           CAST(CASE WHEN 2 * pos_l > n_l THEN n_l - pos_l ELSE 0 END
              + CASE WHEN 2 * pos_r > n_r THEN n_r - pos_r ELSE 0 END
              AS BIGINT) AS false_pos,
           CAST(CASE WHEN 2 * pos_l > n_l THEN 0 ELSE n_l - pos_l END
              + CASE WHEN 2 * pos_r > n_r THEN 0 ELSE n_r - pos_r END
              AS BIGINT) AS true_neg,
           CAST(CASE WHEN 2 * pos_l > n_l THEN 0 ELSE pos_l END
              + CASE WHEN 2 * pos_r > n_r THEN 0 ELSE pos_r END
              AS BIGINT) AS false_neg
    FROM best
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a DECISION STUMP (1-split tree, the boosting weak
    learner) relationally: target ``lang = 'en'``, feature
    ``n_chars``, split predicate ``x ≤ t`` over every distinct feature
    value, argmin of the weighted Gini impurity — and report the
    learned split WITH its training confusion matrix, derived from the
    same cumulative counts (no second pass over the data).

    Exactness device: the split score is QUANTIZED per side —
    ``imp_micro = ⌊10⁶·pos_L·neg_L/n_L⌋ + ⌊10⁶·pos_R·neg_R/n_R⌋``
    (monotone in the true rational impurity up to the micro quantum;
    the quantized sum IS the operator contract, ties broken threshold
    ASC) — so the argmin is over exact integers on both engines; no
    float division anywhere.  Degenerate right-empty split (t = max x)
    excluded on both sides.

    Plan: one scan → per-value hash aggregate (cardinality = distinct
    feature values, domain-bounded — the classic pre-binning every
    distributed tree learner does; at 100 TB one would quantile-bin
    continuous features first, same shape) → ONE window cumsum over
    that value-sized relation (not the data!) → 1-row TakeOrdered
    argmin.  The 1-row total aggregate enters via broadcast cross
    join.  Reference heritage: none (SURVEY §2 charter extension, ML
    family)."""
    ensure_utc(spark)
    pts = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    tot = pts.agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    vals = pts.groupBy("x").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos_cnt")
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "x",
        F.sum("cnt").over(wcum).alias("n_l"),
        F.sum("pos_cnt").over(wcum).alias("pos_l"),
    )
    # broadcast-safe: tot is a 1-row total aggregate
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("n") - F.col("n_l") > 0)
        .select(
            F.col("x").alias("threshold"),
            "n_l",
            "pos_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("pos") - F.col("pos_l")).alias("pos_r"),
            # products through DECIMAL(38,0) (the ml_adaboost_stumps /
            # agg_linear_trend overflow discipline): BIGINT
            # 10⁶·pos_l·neg_l silently wraps beyond ~6M rows while the
            # DuckDB oracle's window sums are HUGEINT (ADVICE r13)
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * pos_l * (n_l - pos_l))"
                " div n_l"
                " + (CAST(1000000 AS DECIMAL(38,0)) * (pos - pos_l)"
                "    * ((n - n_l) - (pos - pos_l))) div (n - n_l)"
            ).alias("imp_micro"),
        )
    )
    best = scored.orderBy("imp_micro", "threshold").limit(1)
    pl = (2 * F.col("pos_l") > F.col("n_l")).cast("bigint")
    pr = (2 * F.col("pos_r") > F.col("n_r")).cast("bigint")
    neg_l = F.col("n_l") - F.col("pos_l")
    neg_r = F.col("n_r") - F.col("pos_r")
    return best.select(
        F.col("threshold").cast("bigint").alias("threshold"),
        F.col("imp_micro").cast("bigint").alias("imp_micro"),
        pl.alias("pred_left"),
        pr.alias("pred_right"),
        (
            F.when(pl == 1, F.col("pos_l")).otherwise(0)
            + F.when(pr == 1, F.col("pos_r")).otherwise(0)
        ).cast("bigint").alias("true_pos"),
        (
            F.when(pl == 1, neg_l).otherwise(0)
            + F.when(pr == 1, neg_r).otherwise(0)
        ).cast("bigint").alias("false_pos"),
        (
            F.when(pl == 1, F.lit(0)).otherwise(neg_l)
            + F.when(pr == 1, F.lit(0)).otherwise(neg_r)
        ).cast("bigint").alias("true_neg"),
        (
            F.when(pl == 1, F.lit(0)).otherwise(F.col("pos_l"))
            + F.when(pr == 1, F.lit(0)).otherwise(F.col("pos_r"))
        ).cast("bigint").alias("false_neg"),
    )


def _stump_cte(r: int, pts: str) -> str:
    """One weighted-stump training round as oracle CTEs: weighted
    per-value pre-binning over ``{pts}`` (columns x, y, w), cumulative
    split counts, HUGEINT quantized-Gini argmin, and the 1-row
    ``best{r}`` carrying the split + weighted error."""
    return f"""vals{r} AS (
      SELECT x, CAST(sum(w) AS HUGEINT) AS cnt,
             CAST(sum(w * y) AS HUGEINT) AS pos_cnt
      FROM {pts} GROUP BY x),
    tot{r} AS (SELECT CAST(sum(w) AS HUGEINT) AS n,
                      CAST(sum(w * y) AS HUGEINT) AS pos FROM {pts}),
    cum{r} AS (
      SELECT x, sum(cnt) OVER (ORDER BY x) AS n_l,
             sum(pos_cnt) OVER (ORDER BY x) AS pos_l
      FROM vals{r}),
    best{r} AS (
      SELECT x AS threshold, n_l, pos_l, n - n_l AS n_r,
             pos - pos_l AS pos_r, n AS tot_w,
             2 * pos_l > n_l                     AS pl,
             2 * (pos - pos_l) > (n - n_l)       AS pr
      FROM cum{r} CROSS JOIN tot{r}
      WHERE n - n_l > 0
      ORDER BY 1000000 * pos_l * (n_l - pos_l) // n_l
               + 1000000 * (pos - pos_l) * ((n - n_l) - (pos - pos_l))
                 // (n - n_l),
               x
      LIMIT 1),
    err{r} AS (
      SELECT threshold, pl, pr, tot_w,
             (CASE WHEN pl THEN n_l - pos_l ELSE pos_l END)
             + (CASE WHEN pr THEN n_r - pos_r ELSE pos_r END) AS err_w
      FROM best{r})"""


@query(
    "ml_adaboost_stumps",
    oracle=f"""
    WITH pts1 AS (
      SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(1 AS HUGEINT) AS w
      FROM documents
    ),
    {_stump_cte(1, "pts1")},
    pts2 AS (
      SELECT x, y,
             CASE WHEN (SELECT err_w FROM err1) = 0
                    OR (SELECT err_w FROM err1) = (SELECT tot_w FROM err1)
                  THEN w
                  WHEN (CASE WHEN x <= (SELECT threshold FROM err1)
                             THEN (SELECT pl FROM err1)
                             ELSE (SELECT pr FROM err1) END)
                       = (y = 1)
                  THEN w * (SELECT err_w FROM err1)
                  ELSE w * (SELECT tot_w FROM err1)
                         - w * (SELECT err_w FROM err1) END AS w
      FROM pts1
    ),
    {_stump_cte(2, "pts2")},
    rounds AS (
      SELECT 1 AS round, * FROM err1
      UNION ALL
      SELECT 2 AS round, * FROM err2
    )
    SELECT CAST(round AS BIGINT) AS round,
           CAST(threshold AS BIGINT) AS threshold,
           CAST(pl AS BIGINT) AS pred_left,
           CAST(pr AS BIGINT) AS pred_right,
           CAST(err_w AS BIGINT) AS err_w,
           CAST(tot_w AS BIGINT) AS tot_w,
           CASE WHEN err_w > 0 AND err_w < tot_w THEN
             CAST((CAST(floor(ln(CAST(tot_w - err_w AS DOUBLE)) * 1000000)
                        AS BIGINT)
                   - CAST(floor(ln(CAST(err_w AS DOUBLE)) * 1000000)
                          AS BIGINT)) // 2 AS BIGINT)
           END AS alpha_micro
    FROM rounds
    """,
)
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost (Freund & Schapire 1997), TWO unrolled boosting rounds
    over decision stumps — boosting as pure relational algebra, the
    iterative-ML row beyond single-model training (Lloyd, NB, stump):
    round 1 trains the ``ml_decision_stump`` split under unit weights;
    misclassified rows are then up-weighted and round 2 trains a
    second stump on the REWEIGHTED distribution.  Output: per round
    the split, its weighted error, and the ensemble vote weight
    α = ½·ln((1−ε)/ε) in quantized micro-nats (the shared qln device;
    NULL at the ε ∈ {{0, 1}} degeneracies on both engines).

    Exactness device — INTEGER boosting weights: the textbook update
    ``w·e^{{±α}}`` is irrational, but AdaBoost is scale-invariant per
    round, so multiplying EVERY weight by ε (in integer mass units)
    turns the update into ``correct → w·err_w, wrong → w·(tot_w −
    err_w)`` — exact integers forever (HUGEINT oracle-side,
    DECIMAL(38,0) Spark-side), and the round-2 argmin compares exact
    quantized impurities.  The quantized impurity scales with total
    weight mass; the ARGMIN is unaffected (all thresholds share the
    round's total).  Weight growth is geometric in the round count —
    fine for the small fixed round counts boosting uses here (2), the
    same bounded-unrolling contract as ``ml_kmeans_lloyd``.

    Plan per round: the weighted stump is the ``ml_decision_stump``
    shape (value-domain-bounded pre-bin agg → window cumsum over the
    value relation → 1-row TakeOrdered); the reweighting is one
    map-side CASE against the broadcast 1-row round result — no extra
    shuffle, no driver collect.  Reference heritage: none (SURVEY §2
    charter extension, ML family)."""
    ensure_utc(spark)
    pts = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.lit(1).cast("decimal(38,0)").alias("w"),
    )

    def weighted_stump(p: DataFrame) -> DataFrame:
        tot = p.agg(
            F.sum("w").alias("n"), F.sum(F.col("w") * F.col("y")).alias("pos")
        )
        vals = p.groupBy("x").agg(
            F.sum("w").alias("cnt"),
            F.sum(F.col("w") * F.col("y")).alias("pos_cnt"),
        )
        wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        cum = vals.select(
            "x",
            F.sum("cnt").over(wcum).alias("n_l"),
            F.sum("pos_cnt").over(wcum).alias("pos_l"),
        )
        # broadcast-safe: tot is a 1-row weighted-total aggregate
        best = (
            cum.crossJoin(F.broadcast(tot))
            .where(F.col("n") - F.col("n_l") > 0)
            .orderBy(
                F.expr(
                    "CAST(1000000 AS DECIMAL(38,0)) * pos_l * (n_l - pos_l)"
                    " div n_l"
                    " + CAST(1000000 AS DECIMAL(38,0)) * (pos - pos_l)"
                    "   * ((n - n_l) - (pos - pos_l)) div (n - n_l)"
                ),
                "x",
            )
            .limit(1)
        )
        pl = 2 * F.col("pos_l") > F.col("n_l")
        pr = 2 * (F.col("pos") - F.col("pos_l")) > (F.col("n") - F.col("n_l"))
        return best.select(
            F.col("x").alias("threshold"),
            pl.alias("pl"),
            pr.alias("pr"),
            F.col("n").alias("tot_w"),
            (
                F.when(pl, F.col("n_l") - F.col("pos_l")).otherwise(
                    F.col("pos_l")
                )
                + F.when(
                    pr,
                    (F.col("n") - F.col("n_l"))
                    - (F.col("pos") - F.col("pos_l")),
                ).otherwise(F.col("pos") - F.col("pos_l"))
            ).alias("err_w"),
        )

    from mapreduceplusplus_spark.session import qln_micro as _qln

    rounds = []
    cur = pts
    for r in (1, 2):
        best = truncate(weighted_stump(cur))
        rounds.append(best.select(F.lit(r).cast("bigint").alias("round"), "*"))
        if r == 1:
            # broadcast-safe: best is the 1-row round result
            b = best.select(
                F.col("threshold").alias("b_thr"),
                F.col("pl").alias("b_pl"),
                F.col("pr").alias("b_pr"),
                F.col("err_w").alias("b_err"),
                F.col("tot_w").alias("b_tot"),
            )
            # broadcast-safe: b is the 1-row round-1 result
            cur = cur.crossJoin(F.broadcast(b)).select(
                "x",
                "y",
                F.when(
                    (F.col("b_err") == 0) | (F.col("b_err") == F.col("b_tot")),
                    F.col("w"),
                )
                .when(
                    F.when(F.col("x") <= F.col("b_thr"), F.col("b_pl")).otherwise(
                        F.col("b_pr")
                    )
                    == (F.col("y") == 1),
                    F.col("w") * F.col("b_err"),
                )
                .otherwise(
                    F.col("w") * F.col("b_tot") - F.col("w") * F.col("b_err")
                )
                .cast("decimal(38,0)")
                .alias("w"),
            )
    out = rounds[0].unionAll(rounds[1])
    alpha = F.when(
        (F.col("err_w") > 0) & (F.col("err_w") < F.col("tot_w")),
        F.expr(
            "(CAST(floor(ln(CAST(tot_w - err_w AS DOUBLE)) * 1000000) AS BIGINT)"
            " - CAST(floor(ln(CAST(err_w AS DOUBLE)) * 1000000) AS BIGINT))"
            " div 2"
        ),
    )
    return out.select(
        "round",
        F.col("threshold").cast("bigint").alias("threshold"),
        F.col("pl").cast("bigint").alias("pred_left"),
        F.col("pr").cast("bigint").alias("pred_right"),
        F.col("err_w").cast("bigint").alias("err_w"),
        F.col("tot_w").cast("bigint").alias("tot_w"),
        alpha.cast("bigint").alias("alpha_micro"),
    )


#: greedy k-center coreset picks — small and fixed so the oracle
#: unrolls the SAME rounds (the MMR/kmeans bounded-unrolling contract)
KCENTER_PICKS = 4

#: the quantized embedding long-form (vec_id, dim, q) as oracle SQL —
#: the E CTE of KMEANS_A2_SQL, restated standalone for the coreset
_KCENTER_E_SQL = f"""E AS (
      SELECT vec_id, ord AS dim,
             CAST(round(1000000 * CAST(u AS DOUBLE)) AS BIGINT) + {_SHIFT} AS q
      FROM (SELECT vec_id,
                   unnest(embedding) AS u,
                   generate_subscripts(embedding, 1) AS ord
            FROM embeddings)
    )"""


def _kcenter_ctes(n: int) -> str:
    """Rounds 2..n of the greedy farthest-point traversal as CTEs:
    ``M{r}`` holds min-dist-to-selected after r picks, ``P{r+1}`` the
    argmax (dist DESC, vec_id ASC) among unselected vectors."""
    parts = [
        f"""D1 AS (
      SELECT e.vec_id, CAST(sum((e.q - c.q) * (e.q - c.q)) AS BIGINT) AS d
      FROM E e JOIN (SELECT dim, q FROM E
                     WHERE vec_id = (SELECT min(vec_id) FROM E)) c
        ON c.dim = e.dim
      GROUP BY e.vec_id),
    P1 AS (SELECT (SELECT min(vec_id) FROM E) AS v, CAST(0 AS BIGINT) AS d
           WHERE (SELECT min(vec_id) FROM E) IS NOT NULL),
    M1 AS (SELECT vec_id, d FROM D1)"""
    ]
    for r in range(2, n + 1):
        parts.append(
            f"""P{r} AS (
      SELECT vec_id AS v, d FROM M{r - 1}
      WHERE vec_id NOT IN ({", ".join(f"(SELECT v FROM P{i})" for i in range(1, r))})
      ORDER BY d DESC, vec_id LIMIT 1),
    D{r} AS (
      SELECT e.vec_id, CAST(sum((e.q - c.q) * (e.q - c.q)) AS BIGINT) AS d
      FROM E e JOIN (SELECT dim, q FROM E
                     WHERE vec_id = (SELECT v FROM P{r})) c
        ON c.dim = e.dim
      GROUP BY e.vec_id),
    M{r} AS (
      SELECT m.vec_id, least(m.d, d.d) AS d
      FROM M{r - 1} m JOIN D{r} d USING (vec_id))"""
        )
    return ",\n    ".join(parts)


@query(
    "sample_kcenter_coreset",
    oracle=f"""
    WITH {_KCENTER_E_SQL},
    {_kcenter_ctes(KCENTER_PICKS)}
    {" UNION ALL ".join(f"SELECT {r} AS pick_rank, v AS vec_id, d AS gain_dist FROM P{r}" for r in range(1, KCENTER_PICKS + 1))}
    """,
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-CENTER coreset selection (farthest-point traversal —
    Gonzalez 1985; the active-learning/data-selection coreset of Sener
    & Savarese ICLR'18): pick the seed (minimum vec_id — deterministic
    anchor), then {KCENTER_PICKS - 1} times the vector FARTHEST from
    everything already selected (max-min distance, vec_id tiebreak) —
    the diversity-maximizing complement of `sample_cluster_balanced`'s
    quota sampling: quotas flatten a known clustering, k-center finds
    the points no cluster represents.  2-approximation of the optimal
    k-cover by the classic bound.

    Determinism device: distances are integer Σ(q−c)² over the SHARED
    kmeans micro-quantization (module docstring), so every argmax
    compares exact BIGINTs — the same reason the Lloyd/MMR unrolled
    iterations are differential-checkable.  ``gain_dist`` reports each
    pick's covering radius contribution (distance to the previously
    selected set at pick time; 0 for the seed).

    Plan per round: ONE broadcast of the new pick's d-row quantized
    vector, one map-side squared-distance aggregate over the quantized
    long-form (truncated once), one vector-sized ``least``
    merge into the running min-dist frame, one 1-row TakeOrdered
    argmax — no pairwise matrix, no driver-side loop state beyond the
    fixed {KCENTER_PICKS} rounds.  At 100 TB: k rounds × one corpus
    scan each, the honest cost every k-center implementation pays;
    sub-sample first (hash reservoir) when k·scan is too dear.
    Reference heritage: none (SURVEY §2 charter extension, sampling
    family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    e = truncate(
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "u"))
        .select(
            "vec_id",
            "dim",
            (
                F.round(F.lit(1000000) * F.col("u").cast("double")).cast(
                    "bigint"
                )
                + _SHIFT
            ).alias("q"),
        )
    )
    seed = e.agg(F.min("vec_id")).collect()[0][0]
    if seed is None:
        return spark.createDataFrame(
            [], "pick_rank BIGINT, vec_id BIGINT, gain_dist BIGINT"
        )
    picks = [(1, int(seed), 0)]
    mind = None
    cur_pick = int(seed)
    for r in range(2, KCENTER_PICKS + 1):
        c = e.where(F.col("vec_id") == cur_pick).select(
            "dim", F.col("q").alias("c")
        )
        # broadcast-safe: c is the d-row quantized vector of ONE pick
        d = (
            e.join(F.broadcast(c), "dim")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
                .cast("bigint")
                .alias("d")
            )
        )
        mind = truncate(
            d
            if mind is None
            else mind.select("vec_id", F.col("d").alias("pd"))
            .join(d, "vec_id")
            .select("vec_id", F.least("pd", "d").alias("d"))
        )
        chosen = [p[1] for p in picks]
        top = (
            mind.where(~F.col("vec_id").isin(chosen))
            .orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not top:
            break
        cur_pick = int(top[0]["vec_id"])
        picks.append((r, cur_pick, int(top[0]["d"])))
    return spark.createDataFrame(
        picks, "pick_rank BIGINT, vec_id BIGINT, gain_dist BIGINT"
    )
