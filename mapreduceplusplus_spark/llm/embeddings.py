"""Embedding-column maintenance operators: int8 quantization and
exact per-label centroids — the storage/serving side of the similarity
family (``llm/similarity.py`` consumes vectors; this module produces
the compressed and aggregated forms a 100 TB vector corpus actually
stores).

Reference heritage: none (SURVEY §2 "beyond the reference" charter —
similarity-search support operators).

Determinism contract: quantization is ``floor(x/scale·127 + 0.5)`` —
one IEEE double expression evaluated in the same literal order on both
engines (float→double casts are exact), so every code is bit-identical;
centroid accumulation happens in micro-unit BIGINTs (floats never sum),
so the aggregate is exact under any partitioning/accumulation order —
the float-mean alternative differs between engines in the last ulp and
between RUNS of the same engine when partitioning changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import floor_div_sql
from mapreduceplusplus_spark.sources.tables import load_table

#: DuckDB floor-division fragment rendered by the SHARED helper, so an
#: edit to floor_div_sql moves BOTH engines (review r7s4: the oracle
#: copy was hand-written, re-opening the one-sided-edit class the
#: helper exists to close)
_FLOOR_SN_DUCK = floor_div_sql("s", "n", "duckdb")


@query(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                AS DOUBLE) AS scale,
           CASE WHEN list_max(list_transform(embedding,
                                             x -> abs(CAST(x AS DOUBLE)))) = 0
                THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                ELSE list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE)
                               / list_max(list_transform(embedding,
                                          y -> abs(CAST(y AS DOUBLE))))
                               * 127 + 0.5) AS BIGINT))
           END AS codes,
           CAST(CASE WHEN list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) = 0 THEN 0
                ELSE COALESCE(list_sum(list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE)
                               / list_max(list_transform(embedding,
                                          y -> abs(CAST(y AS DOUBLE))))
                               * 127 + 0.5) AS BIGINT))), 0)
           END AS BIGINT) AS sum_codes
    FROM embeddings
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x_i|``,
    ``code_i = floor(x_i/scale·127 + 0.5)`` ∈ [-127, 127] — the 4×
    compression every billion-vector ANN index applies before anything
    else (IVF-PQ's first stage, scalar-quantized HNSW).  Dot products
    on codes then run in integer SIMD and the reconstruction
    ``code·scale/127`` bounds error at ``scale/254`` per dim.

    Engine-exactness: float→double casts are exact, max-of-abs is a
    selection (no accumulation), and the quantizer is ONE double
    expression written in identical evaluation order on both engines
    — followed by ``floor``, which is exact on doubles.  Half-up via
    ``+0.5``-then-floor (not ``round``) because banker's-rounding
    differences between engines would flip codes sitting exactly on
    .5 boundaries.  All-zero vectors get scale 0 and all-zero codes
    (guarded division); empty vectors yield empty codes and
    ``sum_codes = 0`` on BOTH engines (the oracle COALESCEs DuckDB's
    ``list_sum([]) = NULL`` to match ``F.aggregate``'s init value).

    Scale: narrow map over the vector column, no shuffle, no Python —
    higher-order ``transform``/``aggregate`` stay in codegen.  At
    100 TB this runs as a projection inside whatever scan already
    touches the vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    d = emb.select("vec_id", dbl.alias("v"), scale.cast("double").alias("scale"))
    codes = F.when(
        F.col("scale") == 0,
        F.transform("v", lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            "v",
            lambda x: F.floor(x / F.col("scale") * 127 + 0.5).cast("bigint"),
        )
    )
    return d.select(
        "vec_id",
        "scale",
        codes.alias("codes"),
        F.aggregate(
            codes, F.lit(0).cast("bigint"), lambda acc, c: acc + c
        ).alias("sum_codes"),
    )


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS v_e6
      FROM embeddings
    ),
    dim AS (
      SELECT label, pos,
             CAST(sum(v_e6) AS BIGINT) AS s,
             count(*) AS n
      FROM ex GROUP BY label, pos
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           list(s ORDER BY pos) AS centroid_sum_e6,
           list({_FLOOR_SN_DUCK}
                ORDER BY pos) AS centroid_mean_e6
    FROM dim GROUP BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors with EXACT integer accumulation:
    each dimension quantizes to micro-units (round(x·1e6) as BIGINT)
    and sums per (label, dim) — the aggregation a learned-index /
    IVF training step runs over the full corpus, made reproducible.
    Summing raw floats here is the classic nondeterminism trap: the
    result depends on partitioning and reduce order, so two runs of
    the same engine disagree, let alone two engines.  The mean is the
    FLOOR integer division, spelled out as an explicit CASE on both
    engines via the shared ``floor_div_sql`` helper: BOTH dialects'
    integer division truncates toward zero (a bare quotient would
    agree across engines but violate the floor contract on negative
    sums), and emitting the two fragments from one definition keeps a
    one-sided edit from ever diverging them (review r7s4).

    Scale: posexplode fans 64 rows per vector into a map-side-combined
    (label, dim) rollup — the shuffle carries |labels|·|dims| partial
    sums per task, not vectors; the final per-label fold touches
    |labels|·|dims| rows total.  Dimension order is restored by
    sorting the collected (pos, sum) structs — never by assuming
    arrival order."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.round(F.col("val").cast("double") * 1000000).cast("bigint").alias("v_e6"),
    )
    dim = ex.groupBy("label", "pos").agg(
        F.sum("v_e6").cast("bigint").alias("s"), F.count("*").alias("n")
    )
    from mapreduceplusplus_spark.session import floor_div_sql

    mean = F.expr(floor_div_sql("s", "n", "spark"))
    return (
        dim.select("label", "pos", "s", "n", mean.cast("bigint").alias("m"))
        .groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda t: t.getField("s"),
            ).alias("centroid_sum_e6"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda t: t.getField("m"),
            ).alias("centroid_mean_e6"),
        )
    )


#: PCA micro-unit quantization scale: embeddings are O(1)-magnitude
#: floats; 1e6 keeps every per-ROW Gram product (~1e12) well inside
#: int64 per Arrow batch — the cross-batch combine runs in
#: DECIMAL(38,0) (see below), good to ~1e26 rows per cell.
_PCA_MICRO = 1_000_000


@query("embedding_pca_project")  # no SQL oracle: eigenvector extraction
# isn't SQL-expressible; pinned by tests/test_embeddings.py against an
# independent numpy eigendecomposition of the same covariance plus
# variance-maximality and exact-determinism properties
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection of the embedding corpus —
    the dimensionality-reduction / drift-monitoring primitive (PCA
    whitening before clustering, "is today's embedding distribution
    rotated vs yesterday's"), and the missing linear-algebra member of
    the embeddings family (quantize = storage, centroids = labels,
    PCA = geometry).

    Two-pass structure, both passes scale-shaped:

    1. **Exact distributed Gram accumulation.**  Embeddings are
       quantized to integer micro-units; each Arrow batch contributes
       ``Xᵀ X`` (d², int64), ``Σx`` (d) and a row count via one
       ``mapInPandas`` — numpy does the d²-per-batch work C-side, the
       per-partition partials are (#batches)×(d²+d+1) rows, and the
       final combine is a posexplode + SUM over integer cells: exact
       under ANY accumulation order (the float alternative differs per
       run when partitioning changes — same contract as
       ``embedding_label_centroids``).  No driver collect of
       partition partials: the combine is a shuffle of d²+d+1 ≈ 4k
       keyed longs regardless of corpus size or task count.
    2. **Driver eigenvector, map-side projection.**  The d×d
       covariance (derived from the ONE combined row set) is constant-
       size; ``numpy.linalg.eigh`` plus a largest-|component|-positive
       sign convention yields a deterministic unit PC1 (power
       iteration was rejected: near-isotropic spectra — exactly what
       a healthy embedding corpus looks like — give it an arbitrarily
       small eigengap and therefore unbounded iteration counts; the
       d×d dense solve is constant work).  The projection pass broadcasts (μ, v)
       as literals and emits ``pc1 = Σ (x_microᵢ − μ_microᵢ)·vᵢ /
       MICRO`` — a zero-shuffle codegen'd ``aggregate()`` over the
       original scan, deterministic because every operand is derived
       from integers in a fixed expression order.

    At 100 TB: pass 1 is one scan + a 4k-cell shuffle; pass 2 is one
    scan; the driver holds d² doubles.  Top-k components = the same
    plan with deflation or a (d×k) subspace iteration — k driver-side
    matmuls, no new distributed machinery.  Reference heritage: none
    (SURVEY §2 charter extension, embeddings family)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    micro = _PCA_MICRO

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xi = np.rint(x * micro).astype(np.int64)
            gram = xi.T @ xi                       # (d, d) int64, exact
            sumx = xi.sum(axis=0, dtype=np.int64)  # (d,)
            cells = np.concatenate(
                [gram.ravel(), sumx, np.array([len(xi)], dtype=np.int64)]
            )
            yield pd.DataFrame(
                {"idx": np.arange(len(cells), dtype=np.int64), "val": cells}
            )

    cells = (
        emb.select("embedding")
        .mapInPandas(_partials, "idx long, val long")
        .groupBy("idx")
        # DECIMAL(38,0) combine: each ROW adds ~micro² = 1e12 to a
        # diagonal cell, so a BIGINT sum overflows at ~9e6 rows —
        # far below the charter scale (ANSI would error; non-ANSI
        # would silently wrap the eigenvector).  Per-batch partials
        # stay int64 (bounded by Arrow batch size); only the global
        # combine needs the headroom (good to ~1e26 rows).
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("val"))
        .collect()
    )
    if not cells:
        return emb.select(
            "vec_id", "label", F.lit(0.0).alias("pc1")
        ).limit(0)
    vals = {r.idx: int(r.val) for r in cells}  # Decimal -> exact int
    total = len(vals)
    d = int(round((-1 + (1 + 4 * (total - 1)) ** 0.5) / 2))  # d² + d + 1 cells
    gram = np.array(
        [[vals[i * d + j] for j in range(d)] for i in range(d)], dtype=np.float64
    )
    sumx = np.array([vals[d * d + i] for i in range(d)], dtype=np.float64)
    n = float(vals[d * d + d])
    mu = sumx / n
    cov = gram / n - np.outer(mu, mu)              # micro²-scaled covariance
    _, vecs = np.linalg.eigh(cov)                  # ascending eigenvalues
    v = vecs[:, -1]
    if v[int(np.argmax(np.abs(v)))] < 0:           # deterministic sign
        v = -v
    from mapreduceplusplus_spark.llm.similarity import _sql_array

    mu_lit = F.expr(_sql_array([round(m) for m in mu], "PCA mean", ""))
    v_lit = F.expr(_sql_array(v, "PCA eigenvector"))
    xm = F.transform(
        F.col("embedding"),
        # rint (half-to-even), NOT round (half-away-from-zero): pass 1
        # quantized with np.rint, and a coordinate landing exactly on a
        # .5 micro boundary must project on the SAME integer grid the
        # eigenvector was derived from
        lambda x: F.rint(x.cast("double") * micro).cast("bigint"),
    )
    centered = F.zip_with(
        xm, mu_lit, lambda a, b: (a - b).cast("double")
    )
    pc1 = (
        F.aggregate(
            F.zip_with(centered, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        / micro
    )
    return emb.select(
        "vec_id", "label", F.round(pc1, 6).alias("pc1")
    )


@query(
    "embedding_outlier_centroid",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS v_e6
      FROM embeddings
    ),
    dim AS (
      SELECT label, pos, CAST(sum(v_e6) AS HUGEINT) AS s
      FROM ex GROUP BY label, pos
    ),
    lnorm AS (
      SELECT label, CAST(sum(s * s) AS HUGEINT) AS nb FROM dim
      GROUP BY label
    ),
    per AS (
      SELECT e.vec_id, e.label,
             CAST(sum(CAST(e.v_e6 AS HUGEINT) * d.s) AS HUGEINT) AS dot,
             CAST(sum(CAST(e.v_e6 AS HUGEINT) * e.v_e6) AS HUGEINT) AS na
      FROM ex e JOIN dim d ON d.label = e.label AND d.pos = e.pos
      GROUP BY e.vec_id, e.label
    )
    SELECT p.vec_id, CAST(p.label AS BIGINT) AS label,
           CAST(round(1000000 * (CAST(p.dot AS DOUBLE)
                / (sqrt(CAST(p.na AS DOUBLE))
                   * sqrt(CAST(l.nb AS DOUBLE))))) AS BIGINT) AS cos_ppm,
           (CAST(p.dot AS DOUBLE) < 0) AS is_outlier
    FROM per p JOIN lnorm l ON l.label = p.label
    WHERE p.na > 0 AND l.nb > 0
    """,
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space OUTLIER scoring — the curation pass that flags
    vectors pointing AWAY from their own label's centroid (mislabeled
    or junk embeddings a classifier-filtered corpus wants re-examined):
    per-vector cosine to the label centroid in exact micro-units, with
    ``is_outlier`` = negative similarity to the own-label centroid.

    Exactness chain (three proven devices composed): (1) dimensions
    quantize to the same round(10⁶·x) BIGINTs as
    ``embedding_label_centroids``, so the per-label SUM vector is an
    exact integer relation — and cosine against the SUM equals cosine
    against the MEAN (scale invariance), so no division happens before
    the float stage; (2) dot and both norm sums are exact integer
    aggregations (HUGEINT oracle-side / DECIMAL(38,0) Spark-side: a
    10⁹-vector label pushes the dot terms past 2⁶³); (3) the final
    ``dot/(√na·√nb)`` is a straight-line chain of correctly-rounded
    IEEE ops on bit-identical operands — no float REDUCTION anywhere —
    so both engines produce the same double and the same ppm (the
    ``mixture_temperature_weights`` argument).  The outlier flag tests
    the exact integer sign of ``dot``, not the rounded ppm.

    Scale: one posexplode → (label, dim) rollup (the centroid
    aggregation), one broadcast-sized join back (|labels|·d rows), one
    per-vector fold — vectors shuffle once, as (vec, dim) cells.
    Reference heritage: none (SURVEY §2 charter extension, embedding
    family)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("val").cast("double") * 1000000)
        .cast("bigint")
        .alias("v_e6"),
    )
    dim = ex.groupBy("label", "pos").agg(
        F.sum("v_e6").cast("decimal(38,0)").alias("s")
    )
    lnorm = dim.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("decimal(38,0)").alias("nb")
    )
    per = (
        # broadcast-safe: dim is |labels|·|dims| rows (constant,
        # config-bounded centroid cells)
        ex.join(F.broadcast(dim), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v_e6").cast("decimal(38,0)") * F.col("s"))
            .cast("decimal(38,0)")
            .alias("dot"),
            F.sum(F.col("v_e6").cast("decimal(38,0)") * F.col("v_e6"))
            .cast("decimal(38,0)")
            .alias("na"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        # broadcast-safe: lnorm is one row per label
        per.join(F.broadcast(lnorm), "label")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.round(F.lit(1000000) * cos).cast("bigint").alias("cos_ppm"),
            (F.col("dot").cast("double") < 0).alias("is_outlier"),
        )
    )


#: Matryoshka evaluation: recall@K of the truncated-prefix index
#: against full-dimension ground truth, per probe
_MRL_DIM = 16
_MRL_K = 10
_MRL_PROBE_MOD = 100


@query(
    "embedding_matryoshka_eval",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id,
             CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {_MRL_PROBE_MOD} = 0
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)
               AS s_full,
             list_cosine_similarity((CAST(e.embedding AS DOUBLE[]))[1:{_MRL_DIM}],
                                    (p.pv)[1:{_MRL_DIM}]) AS s_trunc
      FROM probes p CROSS JOIN embeddings e
      WHERE e.vec_id <> p.probe_id
    ),
    fullk AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s_full)
                                                AS BIGINT) DESC, vec_id) AS rnk
        FROM scored) WHERE rnk <= {_MRL_K}
    ),
    trunck AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s_trunc)
                                                AS BIGINT) DESC, vec_id) AS rnk
        FROM scored) WHERE rnk <= {_MRL_K}
    )
    SELECT f.probe_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
           CAST(count(t.vec_id) * 1000000 // {_MRL_K} AS BIGINT)
             AS recall_ppm
    FROM fullk f
    LEFT JOIN trunck t ON t.probe_id = f.probe_id AND t.vec_id = f.vec_id
    GROUP BY f.probe_id
    """,
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval evaluation (Kusupati et al.
    2022, MRL): how much recall@{_MRL_K} survives when the ANN index
    keeps only the first {_MRL_DIM} of 64 dimensions?  The standard
    go/no-go readout before committing a vector corpus to a truncated
    (4× cheaper) serving index: per probe, the top-{_MRL_K} under
    prefix-{_MRL_DIM} cosine is compared against full-dimension ground
    truth and the overlap reported in exact integer ppm.

    Determinism: both rankings order by the integer micro-cosine
    ``round(10⁶·cos)`` (the ``mmr_rerank`` device, ADVICE r13 —
    raw-double ranking left a latent cross-engine ULP tie-sensitivity
    between Spark's fold and DuckDB's ``list_cosine_similarity``)
    with the vec_id tiebreak; overlap counting is then pure integer
    arithmetic, so no float comparison decides any output value.

    Plan: the scored definition (scan + 1-row-per-anchor broadcast +
    both similarities in one projection) executes once PER RANKING —
    two WindowGroupLimit-pruned passes whose exchanges carry only
    ≤ tasks×probes×k rows; the two k-row relations equi-join on
    (probe, vec).  The r13 audit measured both single-pass
    alternatives slower (see inline comment): for this operator the
    scan is cheap and the per-task top-k heap is the cost, so
    re-scanning per ranking is the measured optimum.  At 100 TB this is the honest brute-force
    evaluation harness — run over a probe SAMPLE by construction
    (bounded broadcast set), not the full corpus as queries.
    Reference heritage: none (SURVEY §2 charter extension,
    embedding family)."""
    from pyspark.sql import Window

    from mapreduceplusplus_spark.llm.similarity import _as_double, _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % _MRL_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.expr(_as_double("embedding")).alias("pv"),
    ).select(
        "probe_id",
        "pv",
        F.slice("pv", 1, _MRL_DIM).alias("pvt"),
        F.expr(_norm("pv")).alias("npv"),
        F.expr(_norm(f"slice(pv, 1, {_MRL_DIM})")).alias("npvt"),
    )
    # norms (and the truncated prefix) hoisted per VECTOR — four folds
    # per row on each SIDE instead of four per PAIR (r14, bit-identical
    # — the sim_search_knn_join note)
    corpus = emb.select("vec_id", F.expr(_as_double("embedding")).alias("v")).select(
        "vec_id",
        "v",
        F.slice("v", 1, _MRL_DIM).alias("vt"),
        F.expr(_norm("v")).alias("nv"),
        F.expr(_norm(f"slice(v, 1, {_MRL_DIM})")).alias("nvt"),
    )
    # broadcast-safe: probes is the documented bounded probe sample
    scored = (
        corpus.join(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (F.expr(_dot("v", "pv"))
             / (F.col("nv") * F.col("npv"))).alias("s_full"),
            (F.expr(_dot("vt", "pvt"))
             / (F.col("nvt") * F.col("npvt"))).alias("s_trunc"),
        )
    )
    # TWO ranking passes, each WindowGroupLimit-pruned (simple
    # `rnk <= k` per branch): the r13 audit tried both single-pass
    # forms — OR-of-two-windows (blocks the GroupLimit rewrite,
    # full-sorts the pair relation) and mode-explosion (generator +
    # eager-checkpoint overhead) — and BOTH measured slower at 1× and
    # 25× than re-running the scan+broadcast subplan per ranking: the
    # scan is the cheap part of this operator, the per-task k-row heap
    # is the expensive one, and the group-limit rewrite only fires on
    # the simple per-branch filter.  Two corpus scans is the honest,
    # measured optimum here (probes bounded by contract).
    wf = Window.partitionBy("probe_id").orderBy(
        F.round(F.lit(1000000) * F.col("s_full")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    wt = Window.partitionBy("probe_id").orderBy(
        F.round(F.lit(1000000) * F.col("s_trunc")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    fullk = (
        scored.withColumn("rnk", F.row_number().over(wf))
        .where(F.col("rnk") <= _MRL_K)
        .select("probe_id", "vec_id")
    )
    trunck = (
        scored.withColumn("rnk", F.row_number().over(wt))
        .where(F.col("rnk") <= _MRL_K)
        .select(
            F.col("probe_id").alias("t_probe"), F.col("vec_id").alias("t_vec")
        )
    )
    return (
        fullk.join(
            trunck,
            (F.col("probe_id") == F.col("t_probe"))
            & (F.col("vec_id") == F.col("t_vec")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("t_vec").cast("bigint").alias("n_overlap"),
            F.expr(f"(count(t_vec) * 1000000) div {_MRL_K}")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )
