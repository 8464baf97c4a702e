"""Similarity search over embedding columns (SURVEY.md §2.B row
``sim_search_topk`` + scale-path extension ``sim_search_lsh``).

North-star mandate: approximate-nearest-neighbor over an
``array<float>`` embedding column.  The full ANN ladder (r15), cheapest
index to richest:

- ``sim_search_topk`` — EXACT brute-force cosine top-k: one scan, a
  per-row dot product via higher-order ``zip_with``/``aggregate``
  (Catalyst expressions, whole-stage-codegen'd, no Python), then
  ``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject
  (per-task k-row heap + driver merge — no global sort, no shuffle of
  the full table).  At 100 TB this is the honest scan-bound baseline:
  cost = one pass over the vectors, perfectly parallel.
- ``sim_search_hamming_rerank`` — the 1-BIT tier: sign-bit binary
  sketches (8 B/vector), integer Hamming pool, exact re-rank — still a
  full scan, but the cheapest per-candidate comparison in the family.
- ``sim_search_sq8_rerank`` — the INT8 tier (r16, FAISS
  ``IndexScalarQuantizer(QT_8bit)``): per-vector scale + one int8 code
  per dim (1 B/dim, 4-8× less I/O than floats), asymmetric
  reconstructed-dot ranking with an exact-integer probe, bounded-pool
  exact re-rank — the standard middle rung between sign bits and PQ
  when codebook training isn't warranted.
- ``sim_search_matryoshka_funnel`` — the DIMENSION axis (r16, Kusupati
  MRL adaptive retrieval): coarse-rank on a persisted 16-dim prefix
  store (4× less I/O per scanned candidate, zero quantization error in
  the coarse key), bounded-pool exact full-width re-rank — orthogonal
  to the per-dim precision tiers above.
- ``sim_search_lsh*`` — random-hyperplane LSH (Charikar) bucket index;
  the probe is compared only against vectors whose signature falls in
  the probe's bucket.  Bucketing is an equi-filter (at scale: an
  equi-JOIN on bucket id for batched probes, or a bucketed/partitioned
  table so Catalyst prunes partitions), so the quadratic never
  materializes and the scan shrinks by ~2^bits; multi-probe Hamming-1
  fan-out is the recall knob.
- ``sim_search_ivf*`` — inverted-file coarse quantization (seed and
  k-means-trained centroids; in-plan lists, or the one cid-partitioned
  IVF store every IVF codec reads with PartitionFilters I/O pruning).
- ``sim_search_ivf_sq8`` — the IVF×SQ8 COMPOSITE (r16, FAISS
  ``index_factory("IVFx,SQ8")``): the IVF gate prunes rows to
  nprobe/C cells, int8 codes prune bytes within them — the two
  pruning axes multiplied, the workhorse mid-tier of production
  vector stores.
- ``sim_search_ivfpq*`` — IVF + product quantization (8×16 codes, 32×
  compression, ADC lookup scan, exact re-rank) under cosine / dot /
  L2 metrics.

Every tier returns EXACT full-precision scores for its survivors —
recall is the only degrading axis (the repo-wide ANN contract) — and
every index path is integer-exact, so the whole family is
DuckDB-oracle-checked end to end (r14–r15).

Deterministic throughout: hyperplanes are pseudo-random ±1 vectors
derived from fixed-seed ``xxhash64(bit_index, dim_index)`` — no RNG
state, bit-for-bit reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc, sql
from mapreduceplusplus_spark.sources.index_store import ensure_store
from mapreduceplusplus_spark.sources.memo import memo
from mapreduceplusplus_spark.sources.tables import (
    dataset_fingerprint,
    load_table,
    read_parquet,
)

#: probe = the embedding of this vec_id (deterministic, present at
#: every scale factor)
PROBE_ID = 0
TOP_K = 10
#: hyperplane count for the LSH variant → 2^4 = 16 buckets
LSH_BITS = 4


# The vector kernels are SQL text, for ``F.expr`` or a larger parsed
# statement: one parse replaces the ~50 py4j commands a Column-API
# lambda costs per call, and the optimized expression is the same as
# the Column-API form's (``tests/test_build_cost.py`` pins the parity;
# the accumulator starts at the DOUBLE ``0.0D``, not the DECIMAL ``0.0``).


def _as_double(col: str) -> str:
    """``col`` (an array) with every element cast to DOUBLE."""
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def _dot(a: str, b: str) -> str:
    """The dot product of two ``array<double>`` expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm(v: str) -> str:
    """The L2 norm of an ``array<double>`` expression."""
    return f"sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))"


def _cosine(v: str, p: str) -> str:
    """Cosine of two ``array<double>`` expressions, as every exact
    re-rank computes it: ``dot / (|v| * |p|)``."""
    return f"{_dot(v, p)} / ({_norm(v)} * {_norm(p)})"


def _micro(c: str) -> str:
    """The micro-quantized rank key of a score: ``round(10^6 * c)`` as
    BIGINT, so a top-k order cannot flip on an ULP."""
    return f"CAST(round(1000000 * {c}) AS BIGINT)"


def _sql_array(vec, what: str, suffix: str = "D") -> str:
    """``vec`` as ONE SQL array literal, for ``F.expr`` or a larger
    parsed SQL string: a 64-d probe costs 3 py4j commands this way
    against 263 for ``F.array(*[F.lit(x) ...])``, and the optimized
    literal is the same.  ``suffix="D"`` renders doubles as
    ``repr(float)`` + ``D``, which round-trips every double bit-exactly
    (-0.0, denormals, 1e300); ``"L"`` renders BIGINTs (the
    ``F.lit(i).cast("bigint")`` form); ``""`` leaves plain integers
    that the parser types INT or BIGINT by size, as ``F.lit(i)`` does.
    Loud contract: a NaN or infinite double would render as
    ``nanD``/``infD`` and fail SQL parsing with an opaque error (the
    ``F.lit`` form built valid NaN/Infinity literals), so it raises a
    ``ValueError`` naming ``what`` instead."""
    if suffix != "D":
        return "array(" + ", ".join(f"{int(x)}{suffix}" for x in vec) + ")"
    return "array(" + ", ".join(_sql_double(x, what) for x in vec) + ")"


def _sql_double(x: float, what: str) -> str:
    """``x`` as one SQL DOUBLE literal, under ``_sql_array``'s contract."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"{what} has a non-finite component — refusing to render a "
            "non-finite literal into SQL"
        )
    return f"{x!r}D"


#: the ``embeddings`` table passed to ``session.sql`` as ``emb``, read
#: as ``vec_id, label, v`` with ``v`` as ``array<double>``
_CORPUS = f"(SELECT vec_id, label, {_as_double('embedding')} AS v FROM {{emb}})"


#: sim_search_topk's oracle, shared verbatim with the hybrid-RRF
#: fusion oracle (which nests it as a CTE body)
_TOPK_ORACLE = f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e, probe p
      WHERE e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
    FROM scored
    ORDER BY c DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_topk", oracle=_TOPK_ORACLE)
def sim_search_topk(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """Exact brute-force cosine top-k vs one probe vector.  The probe
    row is a 1-row broadcast (no shuffle of the big side); scoring is a
    map-side zip_with; ``orderBy.limit(k)`` → TakeOrderedAndProject.
    vec_id tiebreaker keeps ties deterministic; the achieved rank is
    materialized (``rnk``) so the order-insensitive hash still checks
    ordering.

    ``_emb`` (private): the corpus as a ``(vec_id, label, v)`` frame to
    rank instead of the ``embeddings`` table; the recall curve passes
    the IVF store's columns.  Same rows for the same vectors."""
    ensure_utc(spark)
    emb, corpus = _corpus(spark, sf_dir, _emb, "vec_id, label, v")
    # broadcast-safe: p is a single query vector (1 row)
    scored = f"""
        WITH e AS {corpus}
        SELECT /*+ BROADCAST(p) */ *, {_cosine("v", "pv")} AS c
        FROM e CROSS JOIN (SELECT v AS pv FROM e WHERE vec_id = {PROBE_ID}) p
        WHERE vec_id <> {PROBE_ID}"""
    return sql(
        spark,
        _top_k(scored, "c DESC, vec_id", "vec_id, label, round(c, 3) + 0.0D AS cosine"),
        emb=emb,
    )


def _corpus(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None, cols: str
) -> tuple[DataFrame, str]:
    """``(frame, relation)`` of a probe's corpus, the relation reading
    the frame as ``{emb}``: a caller's own frame ``_emb`` projected to
    ``cols``, else the ``embeddings`` table as ``_CORPUS``."""
    if _emb is not None:
        return _emb, f"(SELECT {cols} FROM {{emb}})"
    return load_table(spark, sf_dir, "embeddings"), _CORPUS


def _top_k(scored: str, order: str, out: str) -> str:
    """SQL for the ``TOP_K`` rows of the query ``scored`` by ``order``
    (TakeOrderedAndProject: a per-task k-row heap, no global sort),
    projected to ``out`` plus ``rnk``, the achieved rank as BIGINT, so
    an order-insensitive hash still checks the order."""
    return f"""
        SELECT {out},
               CAST(row_number() OVER (ORDER BY {order}) AS BIGINT) AS rnk
        FROM ({scored}
              ORDER BY {order} LIMIT {TOP_K})"""


#: LSH hyperplane sign matrix (r14 ENGINE-PORTABLE family — the
#: ``dedup_minhash_near`` md5 device applied to random hyperplanes):
#: hyperplane i's dimension-d sign is +1 when the first hex nibble of
#: ``md5('h:i:d')`` ≥ 8, else −1 — reproducible from nothing but md5
#: by driver Python (literals below), Spark, and the DuckDB oracle.
#: Signs cover dims 0..LSH_DIM_MAX-1 (the embeddings table's fixed
#: width; a NARROWER vector zip_with-pads NULL and nulls the
#: projection — the affected bit degrades to 0, same on both engines).
LSH_DIM_MAX = 64


def _lsh_sign(i: int, d: int) -> int:
    import hashlib

    return 1 if int(hashlib.md5(f"h:{i}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1


_LSH_SIGNS = [
    [_lsh_sign(i, d) for d in range(LSH_DIM_MAX)] for i in range(LSH_BITS)
]

#: the same sign matrix as an oracle-side SQL fragment: per-(i, d)
#: sign from md5, the exact expression the Python above evaluates
LSH_SIGN_SQL = (
    "CASE WHEN ('0x' || substr(md5('h:' || {i} || ':' || {d}), 1, 1))::BIGINT"
    " >= 8 THEN 1 ELSE -1 END"
)


#: shared oracle CTE chain computing (vec_id, bucket) for every
#: embedding — the EXACT integer formulation lsh_signature evaluates
#: (micro-quantized Rademacher projections, md5-derived signs), so the
#: four LSH queries' oracles replay the bucketing bit-for-bit
LSH_BUCKET_CTE = f"""signs AS (
      SELECT t.i AS i, r.d AS d,
             {LSH_SIGN_SQL.format(i="t.i", d="r.d")} AS s
      FROM range({LSH_BITS}) t(i) CROSS JOIN range({LSH_DIM_MAX}) r(d)
    ),
    vm AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS d,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xm
      FROM embeddings
    ),
    proj AS (
      SELECT vm.vec_id, s.i, sum(vm.xm * s.s) AS pr
      FROM vm JOIN signs s ON s.d = vm.d
      GROUP BY vm.vec_id, s.i
    ),
    bucket AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN pr > 0 THEN 1 << i ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    )"""


def lsh_micro(v: str) -> str:
    """Micro-quantized integer copy of the double array ``v``, as SQL —
    ``round(10⁶·x)`` per element as BIGINT, the exact projection
    domain of the portable LSH signature."""
    return f"transform({v}, x -> CAST(round(1000000 * x) AS BIGINT))"


def lsh_signature(v: str, bits: int = LSH_BITS) -> str:
    """Random-hyperplane signature of the array column ``v`` as an
    integer bucket id in [0, 2^bits), as SQL.  Hyperplane ``i`` is the
    deterministic ±1 Rademacher vector of ``_LSH_SIGNS`` (md5-derived —
    see ``LSH_DIM_MAX`` note); the projection is the INTEGER sum
    Σ_d ±round(10⁶·x_d), exact under any accumulation order and
    identical in DuckDB SQL — which is what makes the whole LSH family
    oracle-checkable (r1–r13 used xxhash64-signed FLOAT sums:
    Spark-only, and order-sensitive in the last ulp).  |Σ| ≤
    64·10⁶·max|x| — far inside BIGINT.  The oracle's
    ``LSH_BUCKET_CTE`` replays it."""
    vm = lsh_micro(v)
    parts = []
    for i in range(bits):
        signs = _sql_array(_LSH_SIGNS[i], "LSH signs", "L")
        proj = (
            f"aggregate(zip_with({vm}, {signs}, (x, s) -> x * s),"
            " 0L, (acc, x) -> acc + x)"
        )
        parts.append(
            f"shiftleft(CAST(CASE WHEN {proj} > 0"
            f" THEN 1 ELSE 0 END AS BIGINT), {i})"
        )
    return "0L | " + " | ".join(parts)


def _lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    multiprobe: bool,
    _emb: DataFrame | None = None,
) -> DataFrame:
    """Shared LSH ANN builder.  ``multiprobe=False`` scores only the
    probe's own bucket; ``multiprobe=True`` additionally visits every
    bucket at Hamming distance 1 from the probe's signature (``bits``
    extra bucket ids — flip each hyperplane bit once), the standard
    recall knob: a near neighbor that landed just across ONE hyperplane
    is recovered.  The probe-bucket set is computed INSIDE the 1-row
    broadcast probe row, so the candidate filter stays a pure map-side
    ``array_contains`` after the same broadcast nested-loop join — the
    plan shape (one scan + 1-row broadcast + TakeOrderedAndProject) is
    identical in both modes, no new shuffle.

    ``_emb`` (private): the corpus as a ``(vec_id, label, v, bucket)``
    frame, ``bucket`` being ``lsh_signature("v")``, to rank instead of
    the ``embeddings`` table; the recall curve passes the IVF store's
    columns.  Same rows for the same vectors."""
    ensure_utc(spark)
    emb, corpus = _corpus(spark, sf_dir, _emb, "*")
    if _emb is None:
        corpus = f"(SELECT *, {lsh_signature('v')} AS bucket FROM {corpus})"
    pbuckets = ", ".join(
        ["bucket"] + [f"bucket ^ {1 << i}" for i in range(LSH_BITS)]
        if multiprobe
        else ["bucket"]
    )
    # rank by the integer micro-cosine (the mmr_rerank device) with a
    # vec_id tiebreak — raw-double ranking would leave the r14 oracles
    # exposed to cross-engine ULP rank flips (ADVICE r13)
    # broadcast-safe: p is a single query vector (1 row)
    cand = f"""
        WITH e AS {corpus}
        SELECT /*+ BROADCAST(p) */ *, {_cosine("v", "pv")} AS c
        FROM e CROSS JOIN (
          SELECT v AS pv, array({pbuckets}) AS pbuckets
          FROM e WHERE vec_id = {PROBE_ID}) p
        WHERE vec_id <> {PROBE_ID} AND array_contains(pbuckets, bucket)"""
    return sql(
        spark,
        _top_k(
            cand,
            f"{_micro('c')} DESC, vec_id",
            "vec_id, label, round(c, 3) + 0.0D AS cosine",
        ),
        emb=emb,
    )


_LSH_TOPK_ORACLE_BODY = f"""
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {{pid}}
    ),
    pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {{pid}}),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      CROSS JOIN pb CROSS JOIN probe p
      WHERE e.vec_id <> {{pid}} AND b.bucket IN ({{bset}})
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query(
    "sim_search_lsh",
    oracle=f"""
    WITH {{cte}},{{body}}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_TOPK_ORACLE_BODY.format(pid=PROBE_ID, bset="pb.pb"),
    ),
)
def sim_search_lsh(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: score ONLY the vectors in
    the probe's bucket (~1/2^bits of the table), exact cosine within
    the bucket.  Recall is partial by design (ANN contract) and
    measured against ``sim_search_topk`` in tests;
    ``sim_search_lsh_multiprobe`` is the recall knob."""
    return _lsh_topk(spark, sf_dir, multiprobe=False, _emb=_emb)


@query(
    "sim_search_lsh_multiprobe",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_TOPK_ORACLE_BODY.format(pid=PROBE_ID, bset="pb.pb, xor(pb.pb, 1), xor(pb.pb, 2), xor(pb.pb, 4), xor(pb.pb, 8)"),
    ),
)
def sim_search_lsh_multiprobe(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """Hamming-1 multi-probe LSH (VERDICT r7 item 4): the probe visits
    its own bucket PLUS the ``LSH_BITS`` buckets one hyperplane-flip
    away — ``bits + 1`` bucket ids in the membership filter, recovering
    near neighbors that fell just across a single hyperplane.  Expected
    candidate volume rises from ~n/2^bits to ~n·(bits+1)/2^bits, still
    exponentially far from the n² quadratic; recall is pinned ≥ the
    single-probe variant's against the exact ``sim_search_topk``."""
    return _lsh_topk(spark, sf_dir, multiprobe=True, _emb=_emb)


#: IVF coarse-quantizer configuration: 16 sampled centroids, probe the
#: 4 nearest lists.  Centroids are the C lowest vec_ids — deterministic
#: sampled-centroid IVF-flat (production systems refine these with
#: k-means, e.g. pyspark.ml KMeans; the INDEX/PROBE plan shape below is
#: identical either way and is what this operator pins down).
IVF_CENTROIDS = 16
IVF_NPROBE = 4


def _dedupe_seed_rows(rows) -> list[tuple[int, list[float]]]:
    """Dedupe driver-collected (vec_id, v) rows by vec_id, sorted —
    deterministically (lowest vector under the (id, values) sort
    wins).  A physically-duplicated corpus (the N×-replication scale
    fixture, or a re-ingested shard at 100 TB) must not silently
    multiply a seed set: every duplicate row became an argmax BRANCH
    in the per-row assignment expression before this (25× replication
    → a 400-way expression per row, measured ~16× slower).  ONE
    definition for all three seed collectors (review r9)."""
    uniq: dict[int, list[float]] = {}
    for r in sorted(rows, key=lambda r: (int(r.vec_id), [float(x) for x in r.v])):
        uniq.setdefault(int(r.vec_id), [float(x) for x in r.v])
    return sorted(uniq.items())


def _py_cos(a: list[float], b: list[float]) -> float:
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def _py_mc(c: float) -> int:
    """round(10⁶·c) with HALF-AWAY-FROM-ZERO ties — the exact Spark
    ``F.round`` / DuckDB ``round`` semantics (Python's builtin round is
    banker's and would disagree at .5 boundaries); driver-side twin of
    the micro-cosine quantization device."""
    x = 1000000 * c
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


#: shared oracle for the seed-centroid IVF variants: replays the
#: micro-quantized assignment argmax, the probe's nprobe-list pick,
#: and the exact-cosine re-rank — ``sim_search_ivf`` (in-plan filter)
#: and ``sim_search_ivf_partitioned`` (cid-partitioned parquet index,
#: partition-pruned probe) share SEMANTICS; the parquet layout is the
#: physical strategy under the same contract, so one oracle serves both
_IVF_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN asg a ON a.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf", oracle=_IVF_ORACLE)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via seed-centroid IVF, with the inverted lists as an
    in-plan filter.

    Inputs: the ``embeddings`` table of ``sf_dir``.  Every vector is
    assigned to its nearest of the ``IVF_CENTROIDS`` seed centroids
    (``_ivf_seed_lists``); the vectors in the probe's ``IVF_NPROBE``
    nearest lists, probe row excluded, are scored by exact cosine.
    Output: ``vec_id, label, cosine`` (rounded to 3 places) and ``rnk``
    (1..k), the ``TOP_K`` best by micro-quantized cosine, ties to the
    lower ``vec_id``.  Row-identical to ``sim_search_ivf_partitioned``,
    which reads the same lists from the IVF store.  Raises
    ``ValueError`` on a corpus without seed centroids or probe row."""
    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    cand = _probed_lists(f"({with_cid(_CORPUS)})", probe_cids, "vec_id, label, v")
    return sql(spark, _ivf_score_topk(cand, probe_v), emb=emb)


def _probe_vector(spark: SparkSession, sf_dir: str) -> list[float] | None:
    """Bounded 1-row probe fetch shared by the ladder tiers, memoized
    per session and dataset version (``sources/memo.py``, r17): the
    probe vector is a quantizer INPUT under the same standing
    amortization policy as the seed centroids — every tier collected
    the identical row with its own job (~0.25 s each warm; the curve
    paid three).  Returns ``None`` for a probe-less corpus (tiers
    degrade per their own contracts); the ``None`` is memoized too, as
    appending a probe rewrites the file and so changes the memo key."""

    def _fetch() -> list[float] | None:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") == PROBE_ID)
            .select(F.expr(_as_double("embedding")))
            .limit(1)
            .collect()
        )
        return [float(x) for x in rows[0][0]] if rows else None

    return memo(spark, sf_dir, "embeddings", "probe_v", _fetch)


def _ivf_seed_lists(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Callable[[str], str], list[float], list[int]]:
    """The seed-centroid IVF quantizer shared by every IVF query.

    Returns ``(emb, with_cid, probe_v, probe_cids)``: the ``embeddings``
    table, which ``_CORPUS`` reads as ``vec_id, label, v`` (``v`` as
    ``array<double>``); ``with_cid``, which renders a SQL query adding
    each row's nearest-centroid id as an ``int`` column ``cid`` to a
    ``vec_id, label, v`` relation; the probe vector; and the ids of the
    probe's ``IVF_NPROBE`` nearest centroids.  The centroids are the
    distinct vectors with ``vec_id < IVF_CENTROIDS``; nearness is the
    micro-quantized cosine ``round(10^6 * cos)``, ties to the lower
    centroid id, so the DuckDB oracles replay it exactly.  The
    centroids, probe and probe cids are memoized per session and
    dataset version.  Raises ``ValueError`` when the corpus has no
    centroid seed or no probe row."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _seeds() -> tuple[list, list[float], list[int]]:
        v = F.expr(_as_double("embedding")).alias("v")
        cent_rows = (
            emb.where(F.col("vec_id") < IVF_CENTROIDS)
            .select("vec_id", v)
            .collect()
        )
        cents = _dedupe_seed_rows(cent_rows)
        if not cents:
            raise ValueError(
                f"IVF index build: no centroid seed vectors (vec_id < "
                f"{IVF_CENTROIDS}) in {sf_dir!r} — cannot quantize an empty corpus"
            )
        probe_rows = emb.where(F.col("vec_id") == PROBE_ID).select(v).collect()
        if not probe_rows:
            raise ValueError(
                f"IVF probe: no row with vec_id == {PROBE_ID} in {sf_dir!r}"
            )
        probe_v = [float(x) for x in probe_rows[0].v]
        probe_cids = [
            cid
            for cid, cv in sorted(
                cents, key=lambda t: (-_py_mc(_py_cos(t[1], probe_v)), t[0])
            )[:IVF_NPROBE]
        ]
        return cents, probe_v, probe_cids

    cents, probe_v, probe_cids = memo(
        spark, sf_dir, "embeddings", "ivf_seeds", _seeds
    )

    # argmax over (micro-cosine, -cid): the highest micro-cosine wins,
    # ties to the lowest centroid id.  The row norm is one projected
    # column, and the whole argmax is one parsed SQL string (repr(float)
    # with the D suffix round-trips every double).
    def with_cid(rel: str) -> str:
        def cos(cv: list[float]) -> str:
            norm = math.sqrt(sum(x * x for x in cv))
            return (
                f"{_dot('v', _sql_array(cv, 'IVF centroid'))}"
                f" / (_nv * {_sql_double(norm, 'IVF centroid norm')})"
            )

        structs = ", ".join(
            f"named_struct('s', {_micro(f'({cos(cv)})')}, 'negid', {-cid})"
            for cid, cv in cents
        )
        return f"""
            SELECT vec_id, label, v,
                   CAST(-array_max(array({structs})).negid AS INT) AS cid
            FROM (SELECT *, {_norm("v")} AS _nv FROM {rel})"""

    return emb, with_cid, probe_v, probe_cids


def _ivf_score_topk(cand: str, probe_v: list[float], metric: str = "cosine") -> str:
    """EXACT scoring + deterministic top-k over surviving IVF
    candidates — the tail shared by every IVF variant, as SQL over the
    relation ``cand`` (``vec_id, label, v``).  ``metric`` selects the
    exact scorer and sort direction: ``cosine`` / ``dot`` rank
    descending (similarities), ``l2`` ranks ASCENDING (a distance) and
    emits ``l2_dist``; returned scores are always full-precision exact
    (the repo-wide ANN contract: recall is the only degrading axis,
    never score fidelity)."""
    pv = _sql_array(probe_v, "IVF probe")
    pn = math.sqrt(sum(x * x for x in probe_v))
    dotc = _dot("v", pv)
    if metric == "cosine":
        score = f"{dotc} / ({_norm('v')} * {_sql_double(pn, 'IVF probe norm')})"
        col, order = "cosine", "DESC"
    elif metric == "dot":
        score, col, order = dotc, "dot", "DESC"
    elif metric == "l2":
        # ‖q−x‖² = ‖q‖² − 2·q·x + ‖x‖², sqrt'd once for the emitted
        # distance (sort on the squared form would be equivalent).
        # CLAMP at 0 before the sqrt (r10 review): for a candidate
        # equal to the probe the expression is analytically 0 but
        # fl(fl(√S)²) rounds below S about half the time, the argument
        # lands at ~-4e-16, sqrt returns NaN, and Spark sorts NaN
        # LARGEST — the true nearest neighbor would rank last.
        nsq = "aggregate(v, 0.0D, (acc, x) -> acc + x * x)"
        score = (
            f"sqrt(greatest(0.0D, {_sql_double(pn * pn, 'IVF probe norm')}"
            f" - {dotc} * 2.0D + {nsq}))"
        )
        col, order = "l2_dist", "ASC"
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown IVF metric: {metric!r}")
    # micro-quantized rank (the mmr_rerank device — r14): ULP-stable
    # ordering for the oracle-replayed variants; ASC for distances
    return _top_k(
        f"SELECT *, {score} AS c FROM {cand}",
        f"{_micro('c')} {order}, vec_id",
        f"vec_id, label, round(c, 3) + 0.0D AS {col}",
    )


def _probed_lists(lists: str, probe_cids: list[int], cols: str) -> str:
    """SQL for the rows of the relation ``lists`` (with ``cid``) in the
    probe's inverted lists, probe row excluded, projected to ``cols``.
    On the IVF store the ``cid`` predicate is a partition filter:
    unprobed lists are never read."""
    cids = ", ".join(str(int(c)) for c in probe_cids)
    return f"""(SELECT {cols} FROM {lists}
        WHERE cid IN ({cids}) AND vec_id <> {PROBE_ID})"""


def _ivf_store(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    with_cid: Callable[[str], str],
    probe_v: list[float],
) -> DataFrame:
    """The IVF store: every IVF codec's columns for the corpus ``emb``,
    written once per dataset version by ``ensure_store`` and
    partitioned by ``cid``, read back as a DataFrame.

    ``emb``, ``with_cid`` and ``probe_v`` are ``_ivf_seed_lists``'s.
    Columns, one row per corpus row:

    - ``vec_id, label, v``: the corpus (IVF-flat lists);
    - ``bucket``: the ``lsh_signature`` of ``v`` (LSH tiers);
    - ``scale, sq8_codes``: ``_sq8_scale`` as double and the int8 codes
      as ``array<tinyint>`` (IVF-SQ8);
    - ``pq_codes``: ``PQ_M`` product-quantization codes in
      ``[0, PQ_K)`` as ``array<tinyint>`` (IVF-PQ), NULL when the
      corpus holds fewer than ``PQ_K`` PQ seeds;
    - ``cid``: the partition column.

    A probe selects only its own columns and filters on ``cid``
    (``_probed_lists``), so Parquet column and partition pruning keep
    its reads to its own codec's bytes in the probed lists."""
    cb = _pq_codebook(spark, sf_dir, len(probe_v))

    def _build(d: str) -> None:
        staged = sql(spark, with_cid(_CORPUS), emb=emb)
        pq_codes = F.lit(None).cast("array<tinyint>")
        if cb is not None:
            # persist() keeps the micro-quantized vq one column: without
            # the barrier CollapseProject inlines it into every one of
            # the PQ_M * PQ_K subspace folds
            staged = staged.withColumn("vq", F.expr(lsh_micro("v"))).persist()
            pq_codes = F.array(
                *[_pq_code(cb[m], m) for m in range(PQ_M)]
            ).cast("array<tinyint>")
        (
            staged.withColumn("bucket", F.expr(lsh_signature("v")))
            .withColumn("scale", F.expr(f"CAST({_sq8_scale()} AS DOUBLE)"))
            .withColumn("sq8_codes", F.expr(_sq8_codes("tinyint")))
            .withColumn("pq_codes", pq_codes)
            .select(
                "vec_id", "label", "v", "bucket", "scale", "sq8_codes",
                "pq_codes", "cid",
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(d)
        )
        staged.unpersist()

    return read_parquet(
        spark,
        ensure_store(
            "ivf_store",
            sf_dir,
            (
                dataset_fingerprint(sf_dir, "embeddings"),
                IVF_CENTROIDS,
                PQ_M,
                PQ_K,
                LSH_BITS,
            ),
            _build,
        ),
    )


@query("sim_search_ivf_partitioned", oracle=_IVF_ORACLE)
def sim_search_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_search_ivf`` served from the IVF store (``_ivf_store``).

    Inputs, output columns and empty-corpus behavior are
    ``sim_search_ivf``'s, and the rows are identical.  The probe reads
    only ``vec_id, label, v`` of the probed ``cid`` partitions; the
    first call for a dataset version builds the store."""
    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    store = _ivf_store(spark, sf_dir, emb, with_cid, probe_v)
    cand = _probed_lists("{store}", probe_cids, "vec_id, label, v")
    return sql(spark, _ivf_score_topk(cand, probe_v), store=store)


#: k-NN join: every vec_id divisible by this is a probe (5 probes per
#: 500 corpus rows), each returning its KNN_K nearest corpus neighbors
KNN_PROBE_MOD = 100
KNN_K = 5


@query(
    "sim_search_knn_join",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} <> 0
    ),
    scored AS (
      SELECT p.probe_id, c.vec_id, c.label,
             list_cosine_similarity(c.v, p.pv) AS s,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_cosine_similarity(c.v, p.pv) DESC,
                                         c.vec_id) AS rnk
      FROM probes p CROSS JOIN corpus c
    )
    SELECT probe_id, vec_id, label,
           round(s, 3) + 0 AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= {KNN_K}
    """,
)
def sim_search_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN JOIN — the multi-probe form of ``sim_search_topk``
    and the actual shape of retrieval / cross-dataset near-dup jobs: a
    small probe set against the full corpus, k nearest per probe.

    Plan: the probe set (|corpus|/{KNN_PROBE_MOD} rows) is BROADCAST
    and nested-loop joined — scoring is map-side over the corpus scan,
    so the big side never shuffles for the join.  The per-probe top-k
    is ``row_number() <= k`` over (probe, score), which Spark 4 plans
    with WindowGroupLimit: each task keeps only k rows per probe BEFORE
    the exchange, so the shuffle carries ≤ tasks×probes×k rows — not
    the |corpus|×|probes| cross product (pinned in
    ``tests/test_operator_edges.py``).

    At 100 TB: broadcast holds to ~10k probes × 64 dims; beyond that,
    bucket both sides with ``lsh_signature`` and equi-join on the
    bucket id (the ``sim_search_lsh`` layout) before scoring.
    """
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = (
        emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.expr(_as_double("embedding")).alias("pv"),
        )
        .withColumn("npv", F.expr(_norm("pv")))
    )
    # norms hoisted to the per-VECTOR projections (r14): the norm is a
    # pure function of its vector, so precomputing it on each side and
    # multiplying the stored doubles is bit-identical to the per-pair
    # form — but the 64-element fold runs |corpus| + |probes| times
    # instead of 2·|pairs| (the interpreted HOF fold is the whole cost
    # of the brute-force family; sf1 measured ~3× on triplet mining)
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    ).withColumn("nv", F.expr(_norm("v")))
    # broadcast-safe: probes is the documented bounded probe set (<=
    # ~10k vectors per the operator contract; LSH-bucket fallback
    # documented beyond)
    scored = corpus.join(F.broadcast(probes)).withColumn(
        "s", F.expr(_dot("v", "pv")) / (F.col("nv") * F.col("npv"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("s").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_K)
        .select(
            "probe_id",
            "vec_id",
            "label",
            (F.round("s", 3) + F.lit(0.0)).alias("cosine"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "sim_search_range",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = {PROBE_ID}
    )
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 3) + 0
             AS cosine
    FROM embeddings e, probe p
    WHERE e.vec_id <> {PROBE_ID}
      AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) >= 0.25
    """,
)
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search — every vector with cosine ≥ τ of the
    probe (the dedup/recall-sweep complement of top-k: result size is
    data-dependent, not fixed).  Same physical shape as
    ``sim_search_topk`` — 1-row broadcast probe, map-side ``zip_with``
    scoring — but the selection is a pushed-down filter instead of
    TakeOrdered, so there is NO sort and NO limit stage at all: scan →
    score → filter, embarrassingly parallel at any scale.

    The τ = 0.25 threshold (chosen inside the fixture's score range at every SF) is compared on the RAW cosine (both engines'
    double arithmetic on identical inputs yields bit-identical values
    for the same expression shape); only the REPORTED value is rounded."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    scored = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .withColumn("c", F.expr(_cosine("v", "pv")))
    )
    return scored.where(F.col("c") >= 0.25).select(
        "vec_id",
        "label",
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
    )


#: Lloyd refinement iterations for the k-means IVF variant
IVF_KMEANS_ITERS = 2
#: positive shift for the integer-mean Lloyd update (the
#: ``ml_kmeans_lloyd`` device): |xq| ≤ 10⁶ < 2²¹, so xq + SHIFT > 0
#: and DuckDB's truncating ``//`` equals Python's floor division on
#: the shifted values — the mean stays exact-integer in both engines
_IVF_SHIFT = 1 << 21


def _explode_micro(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, xq) — the vectors exploded to integer MICRO-UNIT
    cells, the shared relation every Lloyd job reuses (same shape as
    ``ml_kmeans_lloyd``'s).  Integer cells make every downstream sum
    partition-order-exact."""
    return emb.select(
        "vec_id", F.posexplode("v").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x") * 1_000_000).cast("bigint").alias("xq"),
    )


def _ivf_assign_join(
    spark: SparkSession, eq: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id → nearest cid) via the exploded-join plan — the
    ``ml_kmeans_lloyd`` shape, NOT a k-cosine HOF expression per row:
    zip_with/aggregate lambdas are interpreted (no codegen), and the
    first cut's 16-cosine literal-argmax expression made every Lloyd
    job driver-build + interpret bound (~0.6 ms/row — LINEAR in rows,
    the harness caught it at 5×).  Here centroids become a broadcast
    k·d-row TABLE, the dot products are BIGINT micro-unit sums in a
    codegen'd hash aggregate (order-independent ⇒ deterministic), and
    the argmax of cosine reduces to argmax of dot/|c| (the vector's own
    norm is constant within its group), ties to the LOWEST cid via the
    (s, -cid) struct max — the same tie discipline as
    ``sim_search_ivf``.  Returns DataFrame[vec_id, cid]."""
    rows = []
    for cid, cv in cents:
        # half-away-from-zero micro quantization (_py_mc) — the same
        # rule as Spark F.round / DuckDB round, so the oracle's
        # seed-centroid quantization replays this bit-for-bit (Python's
        # builtin round is banker's and would disagree at .5 ties)
        cq = [_py_mc(x) for x in cv]
        cnorm = math.sqrt(sum(q * q for q in cq)) or 1.0
        rows.extend((cid, dim, q, cnorm) for dim, q in enumerate(cq))
    cent_tbl = spark.createDataFrame(
        rows, "cid int, dim int, cq bigint, cnorm double"
    )
    dots = (
        # broadcast-safe: centroid table is k·d rows (constant, config-bounded)
        eq.join(F.broadcast(cent_tbl), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(F.col("xq") * F.col("cq")).alias("dq"),
            F.max("cnorm").alias("cnorm"),
        )
    )
    return (
        dots.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    (F.col("dq").cast("double") / F.col("cnorm")).alias("s"),
                    (-F.col("cid")).alias("negid"),
                )
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.negid")).cast("int").alias("cid"))
    )


def _lloyd_refine(
    spark: SparkSession,
    eq: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd refinement of the IVF coarse quantizer over
    the checkpointed micro-unit cell relation ``eq``: per iteration,
    the nearest-centroid assignment is the exploded-join argmax
    (``_ivf_assign_join`` — codegen'd hash aggregates, zero
    interpreted HOFs), then ONE hash aggregation per (cluster, dim)
    computes the new means — summed in integer MICRO-UNITS (BIGINT)
    like ``embedding_label_centroids``, so the result is
    bit-deterministic under any partitioning (a double sum would vary
    with partition order and break the determinism pin).  The mean
    itself is the INTEGER half-up division ``(2·Σq + n) // (2n)`` over
    the shifted-positive micro units (the ``ml_kmeans_lloyd`` update
    device, r15) — no float mean anywhere, so the DuckDB oracle
    replays the whole refinement in exact BIGINT arithmetic and the
    refined float centroid is just ``cq / 10⁶`` (losslessly
    re-quantized by ``_ivf_assign_join``'s ``_py_mc``).  Only k·d
    cells ever reach the driver per iteration — the same bounded
    driver-side-literal pattern as ``sort_global``'s quantile
    boundaries.  Empty clusters keep their previous centroid (standard
    Lloyd convention)."""
    d = 1 + (
        max(dim for _, cv in cents for dim in range(len(cv))) if cents else -1
    )
    for _ in range(iters):
        best = _ivf_assign_join(spark, eq, cents)
        upd = (
            eq.join(best, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.sum("xq").alias("s_micro"),
                F.count("*").alias("n"),
            )
            .collect()  # bounded: k·d cells (16×64), never the data
        )
        acc: dict[int, dict[int, float]] = {}
        for r in upd:
            # integer half-up mean over the shifted-positive micro
            # units — exact BIGINT in, exact BIGINT out, replayed
            # verbatim by the SQL oracle's `//` on the same operands
            s, n = int(r.s_micro), int(r.n)
            cq = (2 * (s + n * _IVF_SHIFT) + n) // (2 * n) - _IVF_SHIFT
            acc.setdefault(int(r.cid), {})[int(r.dim)] = cq / 1_000_000.0
        cents = [
            (cid, [acc[cid].get(i, 0.0) for i in range(d)])
            if cid in acc
            else (cid, cv)
            for cid, cv in cents
        ]
    return cents


def _ivfk_assign_sql(cents: str, asg: str) -> str:
    """One oracle Lloyd ASSIGNMENT step — the SQL twin of
    ``_ivf_assign_join``: dq = Σ xq·cq is an exact BIGINT dot (≤ d·10¹²
    ≪ 2⁵³, so its DOUBLE cast is exact), cnorm = IEEE sqrt of the exact
    BIGINT Σcq² (``or 1.0`` zero guard), and the nearest-centroid pick
    is the (score DESC, cid) row_number — both engines compute the
    identical doubles from identical integers, so the argmax replays
    bit-for-bit."""
    return f"""{asg} AS (
      SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY CAST(d.dq AS DOUBLE) / n.cnorm DESC, d.cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     CAST(sum(e.xq * c.cq) AS BIGINT) AS dq
              FROM E e JOIN {cents} c ON c.dim = e.dim
              GROUP BY e.vec_id, c.cid) d
        JOIN (SELECT cid,
                     CASE WHEN sum(cq * cq) = 0 THEN 1.0
                          ELSE sqrt(CAST(sum(cq * cq) AS DOUBLE)) END AS cnorm
              FROM {cents} GROUP BY cid) n ON n.cid = d.cid
      ) WHERE rn = 1
    )"""


def _ivfk_update_sql(prev: str, asg: str, new: str) -> str:
    """One oracle Lloyd UPDATE step — the SQL twin of
    ``_lloyd_refine``'s integer mean: half-up division over the
    shifted-positive micro units (``//`` truncation == floor because
    every operand is positive), empty clusters COALESCE back to the
    previous centroid."""
    return f"""{new} AS (
      SELECT p.cid, p.dim, COALESCE(u.cq, p.cq) AS cq
      FROM {prev} p LEFT JOIN (
        SELECT a.cid, e.dim,
               CAST((2 * sum(e.xq + {_IVF_SHIFT}) + count(*))
                    // (2 * count(*)) AS BIGINT) - {_IVF_SHIFT} AS cq
        FROM E e JOIN {asg} a ON a.vec_id = e.vec_id
        GROUP BY a.cid, e.dim) u
      ON u.cid = p.cid AND u.dim = p.dim
    )"""


#: the k-means IVF oracle: the full 2-iteration integer Lloyd
#: refinement (seed → assign → mean → assign → mean), the final
#: assignment, the probe's nprobe pick (same integer-cosine argmax —
#: the probe's own norm is rank-constant so dq/cnorm suffices), then
#: the exact-cosine re-rank tail shared with ``_IVF_ORACLE``
_IVF_KMEANS_ORACLE = f"""
    WITH E AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    C0 AS (
      SELECT DISTINCT vec_id AS cid, dim, xq AS cq
      FROM E WHERE vec_id < {IVF_CENTROIDS}
    ),
    {_ivfk_assign_sql('C0', 'A1')},
    {_ivfk_update_sql('C0', 'A1', 'C1')},
    {_ivfk_assign_sql('C1', 'A2')},
    {_ivfk_update_sql('C1', 'A2', 'C2')},
    {_ivfk_assign_sql('C2', 'A3')},
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    pc AS (
      SELECT cid FROM (
        SELECT d.cid,
               row_number() OVER (
                 ORDER BY CAST(d.dq AS DOUBLE) / n.cnorm DESC, d.cid) AS rn
        FROM (SELECT c.cid, CAST(sum(e.xq * c.cq) AS BIGINT) AS dq
              -- DISTINCT: on a physically row-duplicated corpus
              -- (replication fixtures) the probe's E rows repeat and
              -- would scale dq by the replication factor, while the
              -- Spark side ranks from the single deduped probe row —
              -- uniform scaling preserves order except at ulp-level
              -- ties, so rank from identical unscaled integers
              -- (ADVICE r15)
              FROM (SELECT DISTINCT dim, xq FROM E
                    WHERE vec_id = {PROBE_ID}) e
              JOIN C2 c ON c.dim = e.dim
              GROUP BY c.cid) d
        JOIN (SELECT cid,
                     CASE WHEN sum(cq * cq) = 0 THEN 1.0
                          ELSE sqrt(CAST(sum(cq * cq) AS DOUBLE)) END AS cnorm
              FROM C2 GROUP BY cid) n ON n.cid = d.cid
      ) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN A3 a ON a.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf_kmeans", oracle=_IVF_KMEANS_ORACLE)
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a K-MEANS-refined coarse quantizer — the path
    ``sim_search_ivf``'s docstring documents as what production vector
    stores do (FAISS IVF training): the same 16 deterministic seed
    vectors, improved by ``IVF_KMEANS_ITERS`` distributed Lloyd
    iterations before the lists are built.  Better-centered lists mean
    the fixed nprobe recovers more true neighbors at the same scan
    fraction — recall is the thing k-means buys, and the test pins it
    alongside exactness of the surviving scores.

    Train and assign both run on the ``ml_kmeans_lloyd`` exploded-join
    plan (one checkpointed (vec_id, dim, xq) micro-unit relation reused
    by every job; centroid tables broadcast at k·d rows; BIGINT dot
    products in codegen'd hash aggregates) — NOT a k-cosine HOF
    expression per row: the first cut used the literal-argmax form and
    the 5× harness measured it LINEAR in rows (interpreted
    zip_with/aggregate lambdas at ~0.6 ms/row dominated three jobs).
    At 100 TB this is the classic train-once/assign-everywhere split:
    training shuffles k·d cells per iteration, assignment is one join
    of the cell relation against a broadcast table, and only the
    nprobe-pruned candidates pay the exact-cosine scoring.

    ORACLE (r15 — VERDICT r14 #3): the whole refinement is now
    exact-integer micro-unit arithmetic (quantized seeds, BIGINT dots,
    integer half-up means — see ``_lloyd_refine``), so the DuckDB
    oracle replays seed → assign → mean → assign → mean → final assign
    bit-for-bit as five unrolled CTEs (``ml_kmeans_lloyd``'s device),
    then the probe's nprobe pick and the exact-cosine re-rank tail
    shared with ``_IVF_ORACLE``.  Reference heritage: none (SURVEY §2
    charter extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    )
    # truncate lineage once; every Lloyd job + the final assignment
    # reuses this bounded-width cell relation (|rows|·d cells)
    eq = truncate(_explode_micro(emb))
    seed_rows = (
        emb.where(F.col("vec_id") < IVF_CENTROIDS)
        .select("vec_id", "v")
        .collect()
    )
    seeds = _dedupe_seed_rows(seed_rows)
    if not seeds:
        raise ValueError(
            f"IVF index build: no centroid seed vectors (vec_id < "
            f"{IVF_CENTROIDS}) in {sf_dir!r} — cannot quantize an empty corpus"
        )
    probe_rows = emb.where(F.col("vec_id") == PROBE_ID).collect()
    if not probe_rows:
        raise ValueError(
            f"IVF probe: no row with vec_id == {PROBE_ID} in {sf_dir!r}"
        )
    cents = _lloyd_refine(spark, eq, seeds, IVF_KMEANS_ITERS)
    probe_v = [float(x) for x in probe_rows[0].v]
    # nprobe pick replayed in the oracle's integer space: quantized
    # centroid dot over the quantized probe / centroid norm (the
    # probe's own norm is rank-constant and omitted) — exact-int
    # numerators, IEEE sqrt/divide, identical doubles in both engines
    pq = [_py_mc(x) for x in probe_v]

    def _micro_rank(cv: list[float]) -> float:
        cq = [_py_mc(x) for x in cv]
        cn2 = sum(q * q for q in cq)
        dot = sum(p * q for p, q in zip(pq, cq))
        return dot / (math.sqrt(cn2) if cn2 else 1.0)

    probe_cids = [
        cid
        for cid, cv in sorted(
            cents, key=lambda t: (-_micro_rank(t[1]), t[0])
        )[:IVF_NPROBE]
    ]

    assigned = _ivf_assign_join(spark, eq, cents)
    cand = emb.join(assigned, "vec_id").where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    return sql(spark, _ivf_score_topk("{cand}", probe_v), cand=cand)


def _probe_bucket_set(pbucket: Column) -> list[Column]:
    """The Hamming-1 probe bucket set — own bucket + one id per flipped
    hyperplane bit; shared by the 1-row-broadcast multiprobe
    (``_lsh_topk``) and the batched explode form."""
    return [pbucket, *[pbucket.bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)]]


def _lsh_batch_topk(
    spark: SparkSession, sf_dir: str, multiprobe: bool
) -> DataFrame:
    """Shared batched-LSH builder (review r8: the two batch variants
    were verbatim copies differing only in the probe-side bucket
    expression).  Candidates come from a pure EQUI-JOIN on the bucket
    id; ``multiprobe`` explodes each probe into its Hamming-1 bucket
    set (bits+1 probe rows — probe-side fan-out only, same join)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    ).withColumn("bucket", F.expr(lsh_signature("v")))
    pbucket = F.col("bucket")
    probe_bucket = (
        F.explode(F.array(*_probe_bucket_set(pbucket)))
        if multiprobe
        else pbucket
    )
    probes = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        probe_bucket.alias("pbucket"),
        F.expr(_norm("v")).alias("npv"),
    )
    # corpus-side norm hoisted per vector (bit-identical — see
    # sim_search_knn_join's r14 note)
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).withColumn(
        "nv", F.expr(_norm("v"))
    )
    cand = (
        corpus.join(probes, F.col("bucket") == F.col("pbucket"))
        .withColumn(
            "c", F.expr(_dot("v", "pv")) / (F.col("nv") * F.col("npv"))
        )
    )
    # micro-quantized rank (see _lsh_topk's r14 note)
    w = Window.partitionBy("probe_id").orderBy(
        F.round(F.lit(1000000) * F.col("c")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_K)
        .select(
            "probe_id",
            "vec_id",
            "label",
            (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


_LSH_BATCH_ORACLE_BODY = f"""
    probes AS (
      SELECT e.vec_id AS probe_id, CAST(e.embedding AS DOUBLE[]) AS pv,
             b.bucket AS pbucket
      FROM embeddings e JOIN bucket b ON b.vec_id = e.vec_id
      WHERE e.vec_id % {KNN_PROBE_MOD} = 0
    ),
    pexp AS ({{pexp}}),
    cand AS (
      SELECT p.probe_id, e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      JOIN pexp p ON b.bucket = p.pbucket
      WHERE e.vec_id % {KNN_PROBE_MOD} <> 0
    )
    SELECT probe_id, vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= {KNN_K}
    """


@query(
    "sim_search_lsh_batch",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_BATCH_ORACLE_BODY.format(
            pexp="SELECT probe_id, pv, pbucket FROM probes"
        ),
    ),
)
def sim_search_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED LSH ANN as a pure EQUI-JOIN — the scale path
    ``sim_search_lsh``'s docstring documents for many probes: both
    sides carry the same hyperplane signature, candidates come from a
    shuffle equi-join ON THE BUCKET ID, and the per-probe top-k is a
    WindowGroupLimit-pruned rank.  Unlike ``sim_search_knn_join``
    (broadcast probe set, exact, bounded to ~10k probes) this form has
    NO broadcast anywhere: probe count can grow with the corpus —
    each side shuffles once on the bucket key, candidate volume is
    ~|corpus|·|probes|/2^bits pairs instead of the full cross product,
    and the join parallelizes across buckets.  Recall is partial by
    design (single-bucket probing; the multi-probe variant's bucket
    array generalizes by exploding probe-side bucket ids).  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    return _lsh_batch_topk(spark, sf_dir, multiprobe=False)


@query(
    "sim_search_lsh_batch_multiprobe",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_BATCH_ORACLE_BODY.format(
            pexp="SELECT p.probe_id, p.pv, u.b AS pbucket FROM probes p, unnest([p.pbucket, xor(p.pbucket, 1), xor(p.pbucket, 2), xor(p.pbucket, 4), xor(p.pbucket, 8)]) AS u(b)"
        ),
    ),
)
def sim_search_lsh_batch_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched multi-probe LSH — the last cell of the ANN matrix
    ({single, multi-probe} × {1-row broadcast, batched equi-join}):
    each probe EXPLODES its Hamming-1 bucket set (own bucket + one id
    per flipped hyperplane bit) into ``bits + 1`` probe rows, and the
    candidate join stays a pure EQUI-JOIN on the bucket id — so the
    recall knob costs a constant (bits+1)× probe-side fan-out (probe
    rows, not corpus rows) and no plan change.  Duplicate (probe,
    candidate) pairs cannot arise: a candidate sits in exactly ONE
    bucket, so it matches at most one of a probe's probe-rows.
    Per-probe top-k via the same WindowGroupLimit rank.  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    return _lsh_batch_topk(spark, sf_dir, multiprobe=True)


#: product-quantization geometry: 8 subspaces × 16 codes = 8 bytes per
#: vector (vs 256 B of float32 at d=64 — 32× compression); re-rank pool
PQ_M = 8
PQ_K = 16
PQ_RERANK = 4 * TOP_K


def _ivfpq_oracle(metric: str) -> str:
    """Shared IVF-PQ oracle (r15 — the VERDICT r14 #3 stretch): the
    whole PQ pipeline is integer micro-unit arithmetic (quantized
    codebooks, BIGINT subspace L2² encode, BIGINT ADC lookup sums), so
    DuckDB replays codebook build → encode argmin → ADC pool →
    exact-metric re-rank bit-for-bit.  The coarse gate reuses
    ``_IVF_ORACLE``'s asg/pc device verbatim; only the ADC ranking key,
    the exact re-rank functional, and the sort direction vary by
    ``metric``.  The subspace geometry (m = (dim-1)//sub,
    i = (dim-1)%sub) is derived from the probe's own dimensionality:
    sub = d / PQ_M with d read off the probe vector via len()."""
    if metric == "cosine":
        adc_key = (
            "CAST(adot AS DOUBLE) / (CASE WHEN ansq = 0 THEN 1.0 "
            "ELSE sqrt(CAST(ansq AS DOUBLE)) END) DESC"
        )
        exact = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "cosine", "DESC"
    elif metric == "dot":
        adc_key = "adot DESC"
        exact = "list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "dot", "DESC"
    else:  # l2
        adc_key = "pn.pnq2 - 2 * adot + ansq ASC"
        exact = "list_distance(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "l2_dist", "ASC"
    pn_join = ", PN pn" if metric == "l2" else ""
    return f"""
    WITH E AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    DGEOM AS (
      SELECT len(embedding) // {PQ_M} AS sub FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
                          AS BIGINT) AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id >= {IVF_CENTROIDS}
              AND vec_id < {IVF_CENTROIDS + PQ_K})
    ),
    NSEED AS (SELECT count(*) AS n FROM seeds),
    -- m < PQ_M clamp (ADVICE r15): when d is not a multiple of PQ_M
    -- the Spark
    -- encoder's F.slice covers only the first PQ_M*sub dims; without
    -- the clamp the trailing dims would fold into an out-of-range
    -- m = PQ_M subspace here and the two sides would compute
    -- different ADC pools
    CB AS (
      SELECT s.k, (e.dim - 1) // g.sub AS m, (e.dim - 1) % g.sub AS i,
             e.xq AS cq
      FROM E e JOIN seeds s ON s.vec_id = e.vec_id CROSS JOIN DGEOM g
      WHERE (e.dim - 1) // g.sub < {PQ_M}
    ),
    PE AS (
      SELECT (dim - 1) // g.sub AS m, (dim - 1) % g.sub AS i, xq
      FROM E CROSS JOIN DGEOM g
      WHERE vec_id = {PROBE_ID} AND (dim - 1) // g.sub < {PQ_M}
    ),
    LUT AS (
      SELECT cb.m, cb.k,
             CAST(sum(p.xq * cb.cq) AS BIGINT) AS ldot,
             CAST(sum(cb.cq * cb.cq) AS BIGINT) AS lnsq
      FROM CB cb JOIN PE p ON p.m = cb.m AND p.i = cb.i
      GROUP BY cb.m, cb.k
    ),
    PN AS (SELECT CAST(sum(xq * xq) AS BIGINT) AS pnq2 FROM PE),
    CANDV AS (
      SELECT e.vec_id, (e.dim - 1) // g.sub AS m,
             (e.dim - 1) % g.sub AS i, e.xq
      FROM E e JOIN asg a ON a.vec_id = e.vec_id CROSS JOIN DGEOM g
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
        AND (e.dim - 1) // g.sub < {PQ_M}
    ),
    DIST AS (
      SELECT cv.vec_id, cv.m, cb.k,
             CAST(sum((cv.xq - cb.cq) * (cv.xq - cb.cq)) AS BIGINT) AS d2
      FROM CANDV cv JOIN CB cb ON cb.m = cv.m AND cb.i = cv.i
      GROUP BY cv.vec_id, cv.m, cb.k
    ),
    CODE AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM DIST) WHERE rn = 1
    ),
    ADC AS (
      SELECT c.vec_id,
             CAST(sum(l.ldot) AS BIGINT) AS adot,
             CAST(sum(l.lnsq) AS BIGINT) AS ansq
      FROM CODE c JOIN LUT l ON l.m = c.m AND l.k = c.k
      GROUP BY c.vec_id
    ),
    POOL AS (
      SELECT vec_id FROM ADC{pn_join}
      ORDER BY {adc_key}, vec_id LIMIT {PQ_RERANK}
    ),
    -- degrade mirror (ADVICE r15): with fewer than PQ_K codebook
    -- seeds the Spark engine falls back to an EXACT full scan
    -- (_ivfpq_search's len(seeds) < PQ_K branch); gate on the same
    -- seed-count scalar so both sides pick the same pool
    cand AS (
      SELECT e.vec_id, e.label, {exact} AS c
      FROM embeddings e JOIN POOL po ON po.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE (SELECT n FROM NSEED) >= {PQ_K}
      UNION ALL
      SELECT e.vec_id, e.label, {exact} AS c
      FROM embeddings e CROSS JOIN probe p
      WHERE e.vec_id <> {PROBE_ID}
        AND (SELECT n FROM NSEED) < {PQ_K}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS {col},
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) {rankdir}, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) {rankdir}, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivfpq", oracle=_ivfpq_oracle("cosine"))
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k under cosine (Jégou, Douze & Schmid, TPAMI'11;
    the FAISS ``IVFx,PQ8`` shape).

    Inputs: the ``embeddings`` table of ``sf_dir``.  The probe's
    ``IVF_NPROBE`` inverted lists (the ``sim_search_ivf`` gate) are
    ranked by the asymmetric distance of their stored PQ codes (the
    IVF store's ``pq_codes``: per subspace, the nearest of ``PQ_K``
    codebook slices); the ``PQ_RERANK`` best are re-scored by exact
    cosine.  Output: ``vec_id, label, cosine`` (rounded to 3 places)
    and ``rnk``, the ``TOP_K`` best by micro-quantized cosine, ties to
    the lower ``vec_id``.  A corpus with fewer than ``PQ_K`` PQ seeds
    is ranked by an exact scan instead.  Raises ``ValueError`` on a
    corpus without seed centroids or probe row.  See ``_ivfpq_search``."""
    return _ivfpq_search(spark, sf_dir, metric="cosine")


@query("sim_search_ivfpq_dot", oracle=_ivfpq_oracle("dot"))
def sim_search_ivfpq_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the INNER-PRODUCT metric (VERDICT r9 item 3) — the
    ADC table a recommendation / MIPS retrieval stack runs (FAISS
    ``METRIC_INNER_PRODUCT``): the approximate score is the raw
    reconstructed dot ``Σ_m lut_dot[m][code_m]`` — no norm term at all,
    so the LUT is the only probe-side state — and the re-rank pool is
    re-scored with the EXACT full-precision dot product.  Same coarse
    index, same codes, same re-rank contract as ``sim_search_ivfpq``;
    only the ranking functional changes.  Note MIPS is NOT
    cosine-equivalent: a longer vector can beat a better-aligned one,
    which is exactly the semantics recommenders want (popularity-scaled
    embeddings).  Reference heritage: none (SURVEY §2 charter
    extension, similarity family)."""
    return _ivfpq_search(spark, sf_dir, metric="dot")


@query("sim_search_ivfpq_l2", oracle=_ivfpq_oracle("l2"))
def sim_search_ivfpq_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the EUCLIDEAN metric (VERDICT r9 item 3) — the
    FAISS default (``METRIC_L2``): ADC distance² decomposes exactly as
    ‖q‖² − 2·Σ_m lut_dot[m][code_m] + Σ_m ‖cb[m][code_m]‖² under
    subspace orthogonality (Jégou et al. TPAMI'11 eq. 13), so the same
    two LUTs the cosine variant builds serve L2 with a sign flip —
    candidates rank ASCENDING and the re-rank pool is re-scored with
    the exact full-precision distance.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    return _ivfpq_search(spark, sf_dir, metric="l2")


def _pq_codebook(
    spark: SparkSession, sf_dir: str, d: int
) -> list[list[list[int]]] | None:
    """The PQ codebook ``cb[m][k]``: subspace ``m`` (of ``PQ_M``, each
    ``d // PQ_M`` dims wide) of seed vector ``k`` (of ``PQ_K``, the
    distinct vectors with ``IVF_CENTROIDS <= vec_id < IVF_CENTROIDS +
    PQ_K`` in id order), in integer micro-units (``_py_mc``).  ``None``
    when the corpus holds fewer than ``PQ_K`` seeds.  The seeds are
    memoized per session and dataset version."""

    def _seeds() -> list[list[float]]:
        seed_rows = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", F.expr(_as_double("embedding")).alias("v"))
            .where(
                (F.col("vec_id") >= IVF_CENTROIDS)
                & (F.col("vec_id") < IVF_CENTROIDS + PQ_K)
            )
            .collect()
        )
        return [v for _, v in _dedupe_seed_rows(seed_rows)]

    seeds = memo(spark, sf_dir, "embeddings", "pq_seeds", _seeds)
    if len(seeds) < PQ_K:
        return None
    sub = d // PQ_M
    sq = [[_py_mc(x) for x in v] for v in seeds]
    return [
        [sq[k][m * sub : (m + 1) * sub] for k in range(PQ_K)]
        for m in range(PQ_M)
    ]


def _pq_code(cb_m: list[list[int]], m: int) -> Column:
    """Subspace ``m``'s PQ code of the ``vq`` column (the row's
    micro-unit vector): the codebook entry of ``cb_m`` at the least
    integer L2², ties to the lower code id.  One parsed SQL string, as
    the Column-API form costs ~10^4 py4j calls per build."""
    sub = len(cb_m[0])
    subv = f"slice(vq, {m * sub + 1}, {sub})"
    structs = ", ".join(
        "named_struct('d', aggregate(zip_with("
        f"{subv}, {_sql_array(cb_m[k], 'PQ codebook', 'L')},"
        " (x, y) -> (x - y) * (x - y)),"
        f" 0L, (acc, x) -> acc + x), 'k', {k})"
        for k in range(PQ_K)
    )
    return F.array_min(F.expr(f"array({structs})"))["k"]


def _ivfpq_search(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    """The IVF-PQ probe behind ``sim_search_ivfpq``, ``_dot`` and
    ``_l2``.  ``metric`` is ``cosine``, ``dot`` or ``l2``.

    Reads ``vec_id, pq_codes`` of the probed lists of the IVF store.
    The asymmetric score of a row is a sum of ``PQ_M`` lookups into
    driver-side tables of the probe's integer micro-unit subspace dots
    and the codebook norms: ``adot / sqrt(ansq)`` for cosine (divisor 1
    when ``ansq`` is 0), ``adot`` for dot, ``|q|^2 - 2 adot + ansq``
    ascending for l2, ties to the lower ``vec_id``.  The ``PQ_RERANK``
    best rows join back to the corpus and ``_ivf_score_topk`` ranks
    them by the exact metric, so the output columns are ``vec_id,
    label``, the metric's score (``cosine``, ``dot`` or ``l2_dist``)
    and ``rnk``.  All index arithmetic is integer, so ``_ivfpq_oracle``
    replays it exactly.  With fewer than ``PQ_K`` PQ seeds the store is
    not read and every non-probe row is scored exactly."""
    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir, len(probe_v))
    if cb is None:
        cand = f"(SELECT * FROM {_CORPUS} WHERE vec_id <> {PROBE_ID})"
        return sql(spark, _ivf_score_topk(cand, probe_v, metric), emb=emb)
    sub = len(cb[0][0])
    pq = [_py_mc(x) for x in probe_v]
    lut_dot = [
        [
            sum(pq[m * sub + i] * cb[m][k][i] for i in range(sub))
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    cb_nsq = [
        [sum(x * x for x in cb[m][k]) for k in range(PQ_K)]
        for m in range(PQ_M)
    ]
    pnq2 = sum(x * x for x in pq)

    store = _ivf_store(spark, sf_dir, emb, with_cid, probe_v)
    coded = _probed_lists("{store}", probe_cids, "vec_id, pq_codes")

    # exact BIGINT sums of PQ_M table lookups
    def adc_sum(lut: list[list[int]]) -> str:
        return "(" + " + ".join(
            f"element_at({_sql_array(lut[m], 'PQ LUT', 'L')}, pq_codes[{m}] + 1)"
            for m in range(PQ_M)
        ) + ")"

    adc_dot, adc_nsq = adc_sum(lut_dot), adc_sum(cb_nsq)
    if metric == "cosine":
        # the probe norm is rank-constant and omitted
        adc, order = (
            f"CAST({adc_dot} AS DOUBLE) / CASE WHEN {adc_nsq} = 0 THEN 1.0D"
            f" ELSE sqrt(CAST({adc_nsq} AS DOUBLE)) END",
            "DESC",
        )
    elif metric == "dot":
        adc, order = adc_dot, "DESC"
    elif metric == "l2":
        adc, order = f"{int(pnq2)} - {adc_dot} * 2 + {adc_nsq}", "ASC"
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown IVF-PQ metric: {metric!r}")
    # broadcast-safe: the pool is at most PQ_RERANK rows
    cand = f"""(
        SELECT /*+ BROADCAST(pool) */ *
        FROM {_CORPUS} JOIN (
          SELECT vec_id FROM (
            SELECT *, {adc} AS adc FROM {coded}
            ORDER BY adc {order}, vec_id LIMIT {PQ_RERANK})) pool
        USING (vec_id))"""
    return sql(
        spark, _ivf_score_topk(cand, probe_v, metric), emb=emb, store=store
    )


#: MMR diversified re-rank: greedy-select MMR_K results from the
#: MMR_POOL-deep relevance candidate pool with λ = 0.7 — expressed as
#: the integer score 7·rel − 3·maxsim over micro-cosine BIGINTs
#: (round(10⁶·cos)), so every argmax is integer-exact on both engines
MMR_POOL, MMR_K = 20, 5


def _mmr_oracle() -> str:
    """Unrolled-greedy MMR as SQL — the ``ml_kmeans_lloyd`` device:
    each greedy pick is one bounded argmax CTE over the pool, so the
    oracle runs the IDENTICAL ``MMR_K`` = 5 iterations the engine does."""
    ctes = [
        f"""probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pool AS (
      SELECT vec_id, ve, rel FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve,
               CAST(round(1000000 * list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), p.pv)) AS BIGINT) AS rel
        FROM embeddings e, probe p WHERE e.vec_id <> {PROBE_ID})
      ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS cu, b.vec_id AS cv,
             CAST(round(1000000 * list_cosine_similarity(a.ve, b.ve))
                  AS BIGINT) AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    p1 AS (SELECT vec_id, rel, 7 * rel AS mmr FROM pool
           ORDER BY rel DESC, vec_id LIMIT 1),
    s1 AS (SELECT vec_id FROM p1)"""
    ]
    for t in range(2, MMR_K + 1):
        ctes.append(
            f"""r{t} AS (
      SELECT c.vec_id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM pool c
      JOIN sims s ON s.cu = c.vec_id
      JOIN s{t - 1} sel ON sel.vec_id = s.cv
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s{t - 1})
      GROUP BY c.vec_id, c.rel
    ),
    p{t} AS (SELECT vec_id, rel, mmr FROM r{t}
             ORDER BY mmr DESC, vec_id LIMIT 1),
    s{t} AS (SELECT vec_id FROM s{t - 1}
             UNION ALL SELECT vec_id FROM p{t})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {t} AS pick, vec_id, rel, mmr FROM p{t}"
        for t in range(1, MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel,
           CAST(mmr AS BIGINT) AS mmr
    FROM ({finals})"""
    )


@query("sim_search_mmr_rerank", oracle=_mmr_oracle())
def sim_search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal-marginal-relevance) diversified re-rank on top of
    ``sim_search_topk``'s exact retrieval — the standard RAG retrieval
    finisher (Carbonell & Goldstein 1998): from the top-20 (MMR_POOL)
    relevance pool, greedily pick 5 (MMR_K) results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 0.7),
    so near-duplicate passages don't crowd out coverage.

    Exact-deterministic formulation: relevance and pairwise similarity
    quantize to MICRO-COSINE BIGINTs (round(10⁶·cos) — the integer-
    cents device), the MMR score is the integer 7·rel − 3·maxsim
    (λ = 0.7 scaled ×10), and each greedy step is a bounded argmax
    (min-vec_id tiebreak) over the ≤20-row pool — so the
    DuckDB oracle can unroll the IDENTICAL 5 iterations
    (the ``ml_kmeans_lloyd`` unrolled-oracle device).

    Scale: the corpus-sized work is exactly ``sim_search_topk``'s
    map-side scoring + TakeOrdered pool (one pass, no shuffle of the
    big side); everything after — the 20×20 pairwise
    sims and the 5 picks — is constant-bounded and
    localCheckpointed per step (1-row eager checkpoints: the
    iterative-loop lineage rule), independent of corpus size.
    Reference heritage: none (SURVEY §2 charter extension, similarity
    family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_as_double("embedding")).alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    mc = lambda c: F.round(F.lit(1000000) * c).cast("bigint")  # noqa: E731
    scored = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "v",
            mc(
                F.expr(_cosine("v", "pv"))
            ).alias("rel"),
        )
    )
    # ONE corpus pass + ONE bounded collect (≤ MMR_POOL rows with
    # their vectors): the greedy itself is integer arithmetic over a
    # constant-bounded pool, so it runs DRIVER-SIDE — the
    # sort_global-boundary / IVF-probe driver-literal device (r16:
    # the previous unrolled in-plan greedy spent ~8 eager-checkpoint
    # jobs on ≤20-row frames; the corpus-sized work is identical).
    # Pairwise micro-cosines come from _py_mc(_py_cos(...)) — the
    # same sequential fold + half-away rounding as the Spark
    # expressions, and test_mmr_micro_cosine_boundary_margin pins
    # every pool cosine ≥ 1e-4 micro-units from a rounding boundary,
    # 10⁴× any fold-order deviation.  ONE disclosed divergence on
    # DEGENERATE input (ADVICE r16): a zero-norm pool vector scores
    # _py_cos = 0.0 here, while the replaced in-plan double division
    # produced NaN/NULL — micro-score 0 vs a NULL that sorted LAST
    # under rel DESC.  No fixture or replication fixture contains a
    # zero-norm vector (the boundary-margin pin would fail first), and
    # the oracle's list_cosine_similarity likewise NaNs, so the
    # divergence is unreachable in any checked configuration; on real
    # corpora a zero embedding is corrupt input either way.
    pool_rows = (
        scored.orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .collect()
    )
    pool_py = [
        (int(r.vec_id), int(r.rel), [float(x) for x in r.v])
        for r in pool_rows
    ]
    sims_py: dict[tuple[int, int], int] = {}
    for uid, _, uv in pool_py:
        for vid, _, vv in pool_py:
            if uid != vid:
                sims_py[(uid, vid)] = _py_mc(_py_cos(uv, vv))
    out_rows: list[tuple[int, int, int, int]] = []
    selected: list[int] = []
    for t in range(1, MMR_K + 1):
        best = None
        for vid, rel, _ in pool_py:
            if vid in selected:
                continue
            if t == 1:
                mmr_score = 7 * rel
            else:
                ms = max(sims_py[(vid, s)] for s in selected)
                mmr_score = 7 * rel - 3 * ms
            # argmax with min-vec_id tiebreak (mmr DESC, vec_id ASC)
            if best is None or (-mmr_score, vid) < (-best[2], best[0]):
                best = (vid, rel, mmr_score)
        if best is None:  # pool exhausted (tiny corpus)
            break
        out_rows.append((t, best[0], best[1], best[2]))
        selected.append(best[0])
    return spark.createDataFrame(
        out_rows, "pick BIGINT, vec_id BIGINT, rel BIGINT, mmr BIGINT"
    )


#: reciprocal-rank-fusion constant (Cormack/Clarke/Büttcher 2009's
#: k = 60) and the fused list length
RRF_K = 60
HYBRID_TOPK = 10


def _hybrid_rrf_oracle() -> str:
    from mapreduceplusplus_spark.llm.textstats import _bm25_sql

    return f"""
    WITH bm AS ({_bm25_sql()}),
    km AS ({_TOPK_ORACLE}),
    fused AS (
      SELECT coalesce(bm.doc_id, km.vec_id) AS doc_id,
             bm.rnk AS bm_rnk,
             km.rnk AS knn_rnk,
             CAST(coalesce(round(1000000.0 / ({RRF_K} + bm.rnk)), 0)
                + coalesce(round(1000000.0 / ({RRF_K} + km.rnk)), 0)
                  AS BIGINT) AS rrf_micro
      FROM bm FULL OUTER JOIN km ON km.vec_id = bm.doc_id
    )
    SELECT doc_id, bm_rnk, knn_rnk, rrf_micro,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS BIGINT) AS rnk
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {HYBRID_TOPK}
    """


@query("sim_search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion — reciprocal-rank fusion (RRF, k = 60)
    of the LEXICAL ranked list (``text_bm25_search``'s BM25 top-20
    over documents) and the SEMANTIC ranked list (``sim_search_topk``'s
    exact cosine top-10 over embeddings): the standard RAG retriever
    shape, sitting next to the ``sim_search_mmr_rerank`` finisher.
    ``embeddings.vec_id`` indexes the same corpus items as
    ``documents.doc_id`` (the fixture contract), so the two lists fuse
    on one id.

    Integer-exact device: each list contributes the QUANTIZED
    reciprocal ``round(10⁶/(60 + rank))`` (an id absent from a list
    contributes 0 — the standard RRF convention), so the fused score
    is a small-integer sum both engines compute identically: ranks are
    integers, the ~20 possible reciprocals hit no .5 rounding boundary
    (10⁶·2/(60+r) is never an odd integer for r ≤ 40), and ties break
    by doc_id.  The oracle COMPOSES the two existing oracle
    formulations verbatim (nested CTE bodies) and fuses with the same
    arithmetic — rank agreement is therefore inherited from the two
    already-green differentials, and the fusion adds only exact
    integer steps.

    Scale: both input lists are the outputs of scan-bound top-k plans
    (TakeOrderedAndProject — no global sort); the fusion itself is a
    ≤30-row FULL OUTER join.  At 100 TB the two retrieval passes
    dominate; fusion cost is constant.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    from mapreduceplusplus_spark.llm.textstats import text_bm25_search

    ensure_utc(spark)
    bm = text_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm_rnk")
    )
    km = sim_search_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").alias("knn_rnk")
    )
    rec = lambda r: F.round(F.lit(1000000.0) / (RRF_K + r)).cast(  # noqa: E731
        "bigint"
    )
    fused = bm.join(km, "doc_id", "full_outer").select(
        "doc_id",
        "bm_rnk",
        "knn_rnk",
        (
            F.coalesce(rec(F.col("bm_rnk")), F.lit(0))
            + F.coalesce(rec(F.col("knn_rnk")), F.lit(0))
        ).alias("rrf_micro"),
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(HYBRID_TOPK)
        .select(
            "doc_id",
            "bm_rnk",
            "knn_rnk",
            "rrf_micro",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
    )


#: triplet mining: hard negatives per anchor (nearest WRONG-label) and
#: the nearest positive (same label) for the margin readout
TRIPLET_NEG_K = 5


@query(
    "sim_search_triplet_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS probe_id, label AS a_label,
             CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} <> 0
    ),
    scored AS (
      SELECT a.probe_id, a.a_label, c.vec_id, c.label,
             list_cosine_similarity(c.v, a.pv) AS s
      FROM anchors a CROSS JOIN corpus c
    ),
    pos AS (
      SELECT probe_id, vec_id AS pos_vec_id, s AS pos_s FROM (
        SELECT probe_id, vec_id, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rn
        FROM scored WHERE label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT probe_id, vec_id, label, s, rnk FROM (
        SELECT probe_id, vec_id, label, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rnk
        FROM scored WHERE label <> a_label
      ) WHERE rnk <= {TRIPLET_NEG_K}
    )
    SELECT n.probe_id, p.pos_vec_id,
           n.vec_id AS neg_vec_id,
           CAST(n.label AS BIGINT) AS neg_label,
           CAST(n.rnk AS BIGINT) AS rnk,
           round(p.pos_s, 3) + 0 AS pos_cosine,
           round(n.s, 3) + 0 AS neg_cosine,
           round(p.pos_s - n.s, 3) + 0 AS margin
    FROM neg n JOIN pos p USING (probe_id)
    """,
)
def sim_search_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING for contrastive/metric training — per anchor the
    {TRIPLET_NEG_K} HARDEST negatives (highest-cosine vectors of a
    DIFFERENT label) paired with the nearest positive (same label) and
    the anchor→positive−negative margin: exactly the (anchor,
    positive, hard-negative) batches a triplet/InfoNCE fine-tune run
    mines from its corpus, and the readout that tells you whether the
    embedding space still separates labels (negative margins = label
    bleed).  Deterministic throughout: both rankings order by the
    integer micro-cosine ``round(10⁶·cos)`` (the ``mmr_rerank``
    device, ADVICE r13 — raw-double ranking left a latent
    cross-engine ULP tie-sensitivity between Spark's fold and
    DuckDB's ``list_cosine_similarity``) with vec_id tiebreak;
    REPORTED cosines stay raw, rounded to 3 decimals.

    Plan: one corpus scan against the broadcast anchor set; ONE window
    partitioned by (anchor, polarity) ranks positives and negatives in
    the same exchange (WindowGroupLimit keeps ≤ max(1, k) rows per key
    before it); the ≤ (1 + k)-rows-per-anchor survivor frame is
    materialized once and the triplet join reads both sides from it —
    the executed plan carries exactly one corpus FileScan (pinned by
    the r13 plan audit; the naive two-filtered-branches form executes
    the scan+broadcast subplan twice).  At 100 TB the
    anchor set is bounded by the broadcast contract (≤ ~10k — beyond
    that, LSH-bucket both sides, ``sim_search_lsh``'s layout); the
    corpus side stays a single scan.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("a_label"),
        F.expr(_as_double("embedding")).alias("pv"),
    ).withColumn("npv", F.expr(_norm("pv")))
    # norms hoisted per VECTOR, not per pair (r14 — bit-identical, see
    # sim_search_knn_join): at sf1's genuine cardinality (500 anchors ×
    # 50k corpus) the per-pair 3-fold form measured 80.7 s; one fold
    # per pair brings the brute-force mining back to scan+dot cost
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    ).withColumn("nv", F.expr(_norm("v")))
    # broadcast-safe: anchors is the documented bounded probe set
    scored = (
        corpus.join(F.broadcast(anchors))
        .withColumn(
            "s",
            F.expr(_dot("v", "pv")) / (F.col("nv") * F.col("npv")),
        )
        .withColumn("is_pos", F.col("label") == F.col("a_label"))
    )
    # ONE window over (probe, polarity) ranks positives and negatives
    # in the same exchange (two filtered branches would re-execute the
    # scan+broadcast subplan per branch — plan audit r13: 4 FileScans
    # → 2); the surviving ≤ (1 + K) rows per anchor are materialized
    # once and both sides of the triplet join read from that tiny frame
    w = Window.partitionBy("probe_id", "is_pos").orderBy(
        F.round(F.lit(1000000) * F.col("s")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    ranked = truncate(
        scored.withColumn("rnk", F.row_number().over(w))
        # UNIFORM rnk <= K filter (not `is_pos ? ==1 : <=K`): the
        # simple form is what Spark rewrites into WindowGroupLimit
        # (per-task k-row heaps BEFORE the exchange); the mixed
        # predicate blocks the rewrite and the full scored relation
        # would sort+materialize (measured 2x slower).  The ≤ K-1
        # surplus positive rows per anchor are dropped in the tiny
        # frame below.
        .where(F.col("rnk") <= TRIPLET_NEG_K)
        .select("probe_id", "vec_id", "label", "s", "is_pos", "rnk")
    )
    pos = ranked.where(F.col("is_pos") & (F.col("rnk") == 1)).select(
        "probe_id",
        F.col("vec_id").alias("pos_vec_id"),
        F.col("s").alias("pos_s"),
    )
    neg = ranked.where(~F.col("is_pos"))
    return neg.join(pos, "probe_id").select(
        "probe_id",
        "pos_vec_id",
        F.col("vec_id").alias("neg_vec_id"),
        F.col("label").cast("bigint").alias("neg_label"),
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.round("pos_s", 3) + F.lit(0.0)).alias("pos_cosine"),
        (F.round("s", 3) + F.lit(0.0)).alias("neg_cosine"),
        (F.round(F.col("pos_s") - F.col("s"), 3) + F.lit(0.0)).alias("margin"),
    )


@query(
    "sim_search_triplet_mining_lsh",
    oracle="""
    WITH {cte},
    anchors AS (
      SELECT e.vec_id AS probe_id, e.label AS a_label,
             CAST(e.embedding AS DOUBLE[]) AS pv, b.bucket AS pbucket
      FROM embeddings e JOIN bucket b ON b.vec_id = e.vec_id
      WHERE e.vec_id % {mod} = 0
    ),
    pexp AS (
      SELECT a.probe_id, a.a_label, a.pv, u.b AS pbucket
      FROM anchors a,
           unnest([a.pbucket, xor(a.pbucket, 1), xor(a.pbucket, 2),
                   xor(a.pbucket, 4), xor(a.pbucket, 8)]) AS u(b)
    ),
    scored AS (
      SELECT p.probe_id, p.a_label, e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS s
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      JOIN pexp p ON b.bucket = p.pbucket
      WHERE e.vec_id % {mod} <> 0
    ),
    pos AS (
      SELECT probe_id, vec_id AS pos_vec_id, s AS pos_s FROM (
        SELECT probe_id, vec_id, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rn
        FROM scored WHERE label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT probe_id, vec_id, label, s, rnk FROM (
        SELECT probe_id, vec_id, label, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rnk
        FROM scored WHERE label <> a_label
      ) WHERE rnk <= {k}
    )
    SELECT n.probe_id, p.pos_vec_id,
           n.vec_id AS neg_vec_id,
           CAST(n.label AS BIGINT) AS neg_label,
           CAST(n.rnk AS BIGINT) AS rnk,
           round(p.pos_s, 3) + 0 AS pos_cosine,
           round(n.s, 3) + 0 AS neg_cosine,
           round(p.pos_s - n.s, 3) + 0 AS margin
    FROM neg n JOIN pos p USING (probe_id)
    """.format(cte=LSH_BUCKET_CTE, mod=KNN_PROBE_MOD, k=TRIPLET_NEG_K),
)
def sim_search_triplet_mining_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN-GATED triplet mining (VERDICT r14 #4) — the scale path the
    exact form's docstring promises ("beyond ~10k anchors, LSH-bucket
    both sides"): candidate (anchor, corpus) pairs come from the
    ``sim_search_lsh_batch_multiprobe`` bucket EQUI-JOIN — each anchor
    explodes into its Hamming-1 bucket set (bits+1 probe rows) and
    meets only corpus vectors whose hyperplane signature falls in one
    of those buckets (~(bits+1)/2^bits of the corpus ≈ 31% at 4 bits,
    vs 100% for the exact form) — then the surviving pairs pay the
    IDENTICAL exact-cosine scoring, single (probe, polarity) window,
    and nearest-positive / hardest-negative join as the exact miner.

    ANN semantics: scores are exact for every emitted pair; recall is
    the degrading axis — a hard negative (or THE positive) hiding in a
    non-probed bucket is missed, and an anchor whose buckets hold no
    same-label vector emits NO triplets (inner positive join; the
    recall pin measures both against the exact form).  At 100 TB both
    sides shuffle ONCE on the bucket key (no broadcast dependence on
    the anchor count), candidate volume scales with bucket occupancy,
    and the mining cost tracks the engine's own ANN layout instead of
    |anchors|·|corpus|.  Reference heritage: none (SURVEY §2 charter
    extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_as_double("embedding")).alias("v")
    ).withColumn("bucket", F.expr(lsh_signature("v")))
    anchors = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("pv"),
        F.explode(F.array(*_probe_bucket_set(F.col("bucket")))).alias(
            "pbucket"
        ),
        F.expr(_norm("v")).alias("npv"),
    )
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).withColumn(
        "nv", F.expr(_norm("v"))
    )
    scored = (
        corpus.join(anchors, F.col("bucket") == F.col("pbucket"))
        .withColumn(
            "s", F.expr(_dot("v", "pv")) / (F.col("nv") * F.col("npv"))
        )
        .withColumn("is_pos", F.col("label") == F.col("a_label"))
    )
    w = Window.partitionBy("probe_id", "is_pos").orderBy(
        F.round(F.lit(1000000) * F.col("s")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    ranked = truncate(
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TRIPLET_NEG_K)
        .select("probe_id", "vec_id", "label", "s", "is_pos", "rnk")
    )
    pos = ranked.where(F.col("is_pos") & (F.col("rnk") == 1)).select(
        "probe_id",
        F.col("vec_id").alias("pos_vec_id"),
        F.col("s").alias("pos_s"),
    )
    neg = ranked.where(~F.col("is_pos"))
    return neg.join(pos, "probe_id").select(
        "probe_id",
        "pos_vec_id",
        F.col("vec_id").alias("neg_vec_id"),
        F.col("label").cast("bigint").alias("neg_label"),
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.round("pos_s", 3) + F.lit(0.0)).alias("pos_cosine"),
        (F.round("s", 3) + F.lit(0.0)).alias("neg_cosine"),
        (F.round(F.col("pos_s") - F.col("s"), 3) + F.lit(0.0)).alias("margin"),
    )


#: binary-sketch ANN: Hamming pool depth before the exact re-rank —
#: the same 4·k pool contract as the IVF-PQ ADC pool
HAMMING_POOL = 4 * TOP_K


@query(
    "sim_search_hamming_rerank",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT (the _IVF_KMEANS_ORACLE probe device, ADVICE r15):
      -- on a physically row-duplicated corpus the probe's exploded
      -- rows repeat and the joined hamming census would scale by the
      -- replication factor, while Spark reads one sketch row
      SELECT DISTINCT dim, x FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    ve AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    ham AS (
      SELECT e.vec_id,
             CAST(count(*) FILTER (WHERE (e.x > 0) <> (p.x > 0))
                  AS BIGINT) AS hamming
      FROM ve e JOIN pe p USING (dim)
      GROUP BY e.vec_id
    ),
    pool AS (
      SELECT vec_id, hamming FROM ham
      ORDER BY hamming, vec_id LIMIT {HAMMING_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.hamming,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label, hamming, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SKETCH ANN — the 1-bit tier of the ANN ladder (exact →
    Hamming → LSH buckets → IVF lists → IVF-PQ codes): every vector
    quantizes to its SIGN BITS (x_d > 0, one bit per dimension — 64
    bits ≈ 8 B per vector vs 256 B of float32, the memory-minimal
    layout binary-embedding retrieval stacks scan when even PQ codes
    don't fit), candidates rank by Hamming distance to the probe's
    sign pattern, and the top-{HAMMING_POOL} pool is re-scored with
    EXACT full-precision cosine (the repo-wide ANN contract: recall is
    the only degrading axis, never score fidelity).

    EXECUTED PLAN (r16 — VERDICT r15 #5, the packed-BIGINT layout the
    r15 docstring promised): the sign bits are PACKED into BIGINT
    words — one per 64 dims — in a write-once persisted SKETCH STORE
    (``ensure_store``, same as the MinHash band index),
    and each probe scans ONLY the store: ``bit_count(word XOR
    probe_word)`` summed per row, TakeOrderedAndProject pool, then a
    {HAMMING_POOL}-row broadcast join back to the full-precision
    vectors for the exact re-rank.  At 100 TB that split is the whole
    point: the recurring per-probe scan touches ~8 B/vector (the
    sketch) instead of 256 B (the floats) — a ~30× I/O cut — and the
    float table is read only for the bounded re-rank pool; the store
    build is a one-time batch job.  ``_hamming_rerank_zipwith`` keeps
    the storeless logical form (one zip_with fold over the float
    scan); the pin suite asserts the two are row-identical and the
    bench compares their per-candidate scan cost.

    Determinism is structural: the sign test compares the SAME parquet
    double against zero in the packer, the zip_with form, and the
    DuckDB oracle (no arithmetic before the comparison); the Hamming
    count is an integer; ties break on vec_id; and the re-rank uses
    the shared micro-quantized rank.  Reference heritage: none (SURVEY
    §2 charter extension, similarity family)."""
    ensure_utc(spark)
    # bounded 1-row probe fetch (memoized — ``_probe_vector``): the
    # probe's packed words become plan literals (at 100 TB this is an
    # 8 B/word key lookup, not a scan)
    pv = _probe_vector(spark, sf_dir)
    if pv is None:
        # no probe vector (empty corpus) — the storeless form returns
        # the correctly-shaped empty frame without building a store
        return _hamming_rerank_zipwith(spark, sf_dir)
    pwords = _pack_sign_words_py(pv)
    emb = load_table(spark, sf_dir, "embeddings")

    def _build(d: str) -> None:
        (
            sql(spark, f"SELECT vec_id, label, v FROM {_CORPUS}", emb=emb)
            .select("vec_id", "label", F.expr(_pack_sign_words("v")).alias("words"))
            # the sketch is ~8 B/vector — keep the file count small so
            # the per-probe scan lists O(1) files at fixture scale (at
            # 100 TB size the task count to healthy parquet splits)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(d)
        )

    sketch_dir = ensure_store(
        "hamming_sketch",
        sf_dir,
        (dataset_fingerprint(sf_dir, "embeddings"),),
        _build,
    )
    sk = spark.read.schema(
        "vec_id BIGINT, label INT, words ARRAY<BIGINT>"
    ).parquet(sketch_dir)
    ham = (
        f"aggregate(zip_with(words, {_sql_array(pwords, 'probe sign words', 'L')},"
        " (a, b) -> CAST(bit_count(a ^ b) AS BIGINT)), 0L, (acc, x) -> acc + x)"
    )
    pv_lit = _sql_array(pv, "probe vector")
    # exact re-rank: fetch full-precision vectors for the bounded pool
    # (broadcast the ≤HAMMING_POOL-row pool into the float table);
    # broadcast-safe: pool is LIMIT HAMMING_POOL (<=40 rows by
    # construction) — a constant-bounded candidate set regardless of
    # corpus size
    scored = f"""
        SELECT /*+ BROADCAST(pool) */ *, {_cosine("v", pv_lit)} AS c
        FROM (SELECT vec_id, v FROM {_CORPUS}) JOIN (
          SELECT vec_id, label, {ham} AS hamming FROM {{sk}}
          WHERE vec_id <> {PROBE_ID}
          ORDER BY hamming, vec_id LIMIT {HAMMING_POOL}) pool
        USING (vec_id)"""
    return sql(
        spark,
        _top_k(
            scored,
            f"{_micro('c')} DESC, vec_id",
            "vec_id, label, CAST(hamming AS BIGINT) AS hamming,"
            " round(c, 3) + 0.0D AS cosine",
        ),
        emb=emb,
        sk=sk,
    )


#: powers of two for the sign-bit packer — entry i is the i-th bit of
#: a 64-bit word as a SIGNED long (bit 63 is the long's sign bit; XOR
#: and bit_count operate on the bit pattern, so the sign is harmless)
_POW2_SIGNED = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _pack_sign_words(v: str) -> str:
    """``array<double>`` → ``array<bigint>`` as SQL: one 64-bit word per
    64 dims, bit i of word w set iff ``v[w*64 + i] > 0`` — the identical
    sign test the zip_with form and the DuckDB oracle run (no
    arithmetic before the comparison, so packing cannot diverge).
    Zero-length vectors give an empty array: ``sequence(0, -1)`` would
    DESCEND."""
    pow2 = _sql_array(_POW2_SIGNED, "sign-bit powers", "L")
    return (
        f"CASE WHEN size({v}) > 0 THEN transform("
        f"sequence(0, CAST(ceil(size({v}) / 64.0D) AS INT) - 1),"
        " w -> aggregate(transform("
        f"slice({v}, w * 64 + 1, 64),"
        f" (x, i) -> CASE WHEN x > 0 THEN element_at({pow2}, i + 1) ELSE 0L END),"
        " 0L, (acc, b) -> acc | b))"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def _pack_sign_words_py(v: list[float]) -> list[int]:
    """Driver-side twin of ``_pack_sign_words`` for the probe literal:
    same sign test on the same IEEE doubles, signed-64 word values."""
    words = []
    for w in range(0, len(v), 64):
        u = 0
        for i, x in enumerate(v[w : w + 64]):
            if x > 0:
                u |= 1 << i
        words.append(u - (1 << 64) if u >= (1 << 63) else u)
    return words


def _hamming_rerank_zipwith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORELESS logical form of ``sim_search_hamming_rerank`` —
    per-dimension sign disagreements via one zip_with fold over the
    float scan against a 1-row probe broadcast.  Kept (unregistered)
    as the row-identity pin target for the packed-BIGINT executed
    plan, as the empty-corpus fallback, and as the per-candidate cost
    baseline the bench compares the sketch scan against."""
    ensure_utc(spark)
    ham = (
        "aggregate(zip_with(v, pv, (x, y) -> CAST((x > 0) <> (y > 0) AS BIGINT)),"
        " 0L, (acc, x) -> acc + x)"
    )
    # broadcast-safe: p is a single query vector (1 row)
    pool = f"""
        WITH e AS {_CORPUS}
        SELECT /*+ BROADCAST(p) */ *, {ham} AS hamming
        FROM e CROSS JOIN (SELECT v AS pv FROM e WHERE vec_id = {PROBE_ID}) p
        WHERE vec_id <> {PROBE_ID}
        ORDER BY hamming, vec_id LIMIT {HAMMING_POOL}"""
    return sql(
        spark,
        _top_k(
            f"SELECT *, {_cosine('v', 'pv')} AS c FROM ({pool})",
            f"{_micro('c')} DESC, vec_id",
            "vec_id, label, CAST(hamming AS BIGINT) AS hamming,"
            " round(c, 3) + 0.0D AS cosine",
        ),
        emb=load_table(spark, sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# SQ8 (int8 scalar quantization) tier — between the 1-bit sketch and PQ
# ---------------------------------------------------------------------------

#: exact-re-rank pool for the SQ8 tier (same sizing rule as HAMMING_POOL)
SQ8_POOL = 4 * TOP_K


def _sq8_scale() -> str:
    """Per-vector SQ8 scale = max|x_d| over the ``v`` column, as SQL —
    ONE definition for every SQ8 carrier (``sim_search_sq8_rerank``,
    ``sim_search_ivf_sq8``, ``sim_search_ivf_sq8_partitioned``); the
    ``embedding_quantize_int8`` device's scale rule."""
    return "array_max(transform(v, x -> abs(x)))"


def _sq8_codes(elem_type: str = "bigint") -> str:
    """Int8 code array over (``v``, ``scale``) columns, as SQL —
    half-up ``floor(x/scale·127 + 0.5)`` with the zero-scale guard, the
    shared quantizer of the SQ8 family.  ``elem_type`` picks the carrier
    width: ``bigint`` for in-plan arithmetic, ``tinyint`` for the
    1 B/dim persisted code index (values ∈ [-127, 127] by
    construction, so the narrow cast is lossless)."""
    return (
        f"CASE WHEN scale = 0 THEN transform(v, x -> CAST(0 AS {elem_type}))"
        f" ELSE transform(v, x -> CAST(floor(x / scale * 127 + 0.5D) AS {elem_type}))"
        " END"
    )


def _sq8_cand(rel: str) -> str:
    """SQL for the SQ8 candidates ``vec_id, scale, codes`` of a relation
    ``rel`` with ``vec_id, v``, coded in-plan."""
    return f"""(SELECT vec_id, scale, {_sq8_codes()} AS codes
        FROM (SELECT *, CAST({_sq8_scale()} AS DOUBLE) AS scale FROM {rel}))"""


def _py_sq8(v: list[float]) -> tuple[float, list[int]]:
    """Pure-Python twin of (``_sq8_scale``, ``_sq8_codes``) — same
    IEEE-double expression tree ``(x/scale)·127 + 0.5`` then floor, so
    the codes agree bit-for-bit (the Hypothesis device pin's model,
    and the documented cross-engine contract the DuckDB oracles
    replay)."""
    scale = max((abs(float(x)) for x in v), default=0.0)
    if scale == 0:
        return 0.0, [0] * len(v)
    return scale, [
        int(math.floor(float(x) / scale * 127 + 0.5)) for x in v
    ]


def _sq8_probe_lits(pv: list[float]) -> tuple[str, str]:
    """The SQ8 family's probe literals as SQL: half-up micro-unit
    BIGINTs (the ADC operand) and the full-precision doubles (the exact
    re-rank operand)."""
    pv_lit = _sql_array(pv, "SQ8 probe")  # non-finite raises here
    pq = [math.floor(x * 1000000.0 + 0.5) for x in pv]
    return _sql_array(pq, "SQ8 probe", "L"), pv_lit


@query(
    "sim_search_sq8_rerank",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT (the _IVF_KMEANS_ORACLE probe device, ADVICE r15):
      -- duplicated probe rows would scale every candidate's ADC sum
      -- by the replication factor while Spark reads ONE probe row
      -- (limit 1) — rank from identical unscaled integers instead
      SELECT DISTINCT dim, pq FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS pq
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    sc AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    ve AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    s AS (
      SELECT v.vec_id,
             CAST(sum(p.pq * CASE WHEN sc.scale = 0 THEN 0
                  ELSE CAST(floor(v.x / sc.scale * 127 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS s
      FROM ve v JOIN pe p USING (dim) JOIN sc ON sc.vec_id = v.vec_id
      GROUP BY v.vec_id
    ),
    pool AS (
      SELECT s.vec_id, s.s, sc.scale
      FROM s JOIN sc USING (vec_id)
      ORDER BY CAST(s.s AS DOUBLE) * sc.scale DESC, vec_id
      LIMIT {SQ8_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.s, po.scale,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(CAST(s AS DOUBLE) * scale / 127.0 / 1000000.0, 3) + 0 AS adc,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN top-k over the whole corpus (FAISS
    ``IndexScalarQuantizer(QT_8bit)``).

    Inputs: the ``embeddings`` table of ``sf_dir``.  Every non-probe
    vector is coded in-plan as ``scale = max|x|`` plus one int8 code per
    dimension (``_sq8_scale``, ``_sq8_codes``) and ranked by
    ``_sq8_topk``.  Output: ``vec_id, label, adc, cosine, rnk`` (see
    ``_sq8_topk``).  A corpus without a probe row gives zero rows."""
    ensure_utc(spark)
    pv = _probe_vector(spark, sf_dir)
    if pv is None:
        return spark.createDataFrame(
            [], "vec_id BIGINT, label INT, adc DOUBLE, cosine DOUBLE, rnk BIGINT"
        )
    cand = _sq8_cand(f"(SELECT * FROM {_CORPUS} WHERE vec_id <> {PROBE_ID})")
    return sql(
        spark,
        _sq8_topk(cand, pv), emb=load_table(spark, sf_dir, "embeddings")
    )


def _sq8_topk(cand: str, pv: list[float]) -> str:
    """The SQ8 ranking shared by every SQ8 query, as SQL reading the
    ``embeddings`` table as ``{emb}``.

    ``cand`` is a relation of the candidates as ``vec_id, scale, codes``
    (integer codes of any width); ``pv`` the probe vector.  Candidates
    rank by the asymmetric dot ``s = sum(pq_d * code_d)``, with ``pq``
    the probe in half-up integer micro-units, as ``s * scale``
    descending, ties to the lower ``vec_id``.  The ``SQ8_POOL`` best
    join back to the corpus and are ranked by exact cosine.  Output:
    ``vec_id, label``, ``adc`` (``s * scale / 127 / 10^6``, rounded to
    3 places), ``cosine`` (exact, rounded to 3 places) and ``rnk``, the
    ``TOP_K`` best by micro-quantized cosine, ties to the lower
    ``vec_id``; zero rows for an empty ``cand``."""
    pq_lit, pv_lit = _sq8_probe_lits(pv)
    s = (
        f"aggregate(zip_with(codes, {pq_lit}, (c, p) -> CAST(c AS BIGINT) * p),"
        " 0L, (acc, x) -> acc + x)"
    )
    # broadcast-safe: the pool is at most SQ8_POOL rows
    scored = f"""
        SELECT /*+ BROADCAST(pool) */ *, {_cosine("v", pv_lit)} AS c
        FROM {_CORPUS} JOIN (
          SELECT vec_id, s, scale FROM (
            SELECT *, {s} AS s FROM {cand}
            ORDER BY CAST(s AS DOUBLE) * scale DESC, vec_id
            LIMIT {SQ8_POOL})) pool
        USING (vec_id)"""
    return _top_k(
        scored,
        f"{_micro('c')} DESC, vec_id",
        "vec_id, label,"
        " round(CAST(s AS DOUBLE) * scale / 127.0D / 1000000.0D, 3) + 0.0D AS adc,"
        " round(c, 3) + 0.0D AS cosine",
    )


# ---------------------------------------------------------------------------
# Matryoshka funnel tier — adaptive-dimension retrieval (prefix → full)
# ---------------------------------------------------------------------------

#: coarse-stage prefix width (dims 1..16 of the 64-dim fixture — the
#: MRL granularity one rung below full width)
MRL_DIMS = 16
#: exact-re-rank pool for the funnel (same sizing rule as HAMMING_POOL)
MRL_POOL = 4 * TOP_K


@query(
    "sim_search_matryoshka_funnel",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pool AS (
      SELECT e.vec_id,
             list_cosine_similarity(
               (CAST(e.embedding AS DOUBLE[]))[1:{MRL_DIMS}],
               p.pv[1:{MRL_DIMS}]) AS c16
      FROM embeddings e CROSS JOIN probe p
      WHERE e.vec_id <> {PROBE_ID}
      ORDER BY CAST(round(1000000 * c16) AS BIGINT) DESC, vec_id
      LIMIT {MRL_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.c16,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(c16, 3) + 0 AS coarse_cosine,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_matryoshka_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA FUNNEL ANN — adaptive-DIMENSION retrieval (Kusupati
    et al., *Matryoshka Representation Learning*, NeurIPS'22 §4.3
    "adaptive retrieval"): rank the whole corpus with only the FIRST
    {MRL_DIMS} dimensions of each embedding (MRL-trained prefixes are
    themselves valid low-dim embeddings), keep a {MRL_POOL}-row
    shortlist, and re-score it with EXACT full-width cosine (the
    repo-wide ANN contract: recall is the only degrading axis, never
    score fidelity).  This is the ladder's DIMENSION axis — orthogonal
    to the precision axis (1-bit Hamming / SQ8 / PQ shrink bits PER
    dim; the funnel shrinks the NUMBER of dims) — and the standard
    deployment shape for MRL embedding models.

    EXECUTED PLAN: the {MRL_DIMS}-dim prefixes live in a write-once
    persisted PREFIX STORE (``ensure_store`` — atomic tmp+rename
    build, same lifecycle as the Hamming sketch store); each
    probe scans ONLY the store (coarse cosine against the probe's
    prefix literals, micro-quantized integer rank key, vec_id
    tiebreak → TakeOrderedAndProject heap), then the ≤{MRL_POOL}-row
    pool broadcast-joins back to the full-width floats for the exact
    re-rank.  At 100 TB the recurring per-probe scan reads
    {MRL_DIMS}/64 of the float bytes (4× less I/O; with float32
    prefixes, 8×) and the full-width table is touched only for the
    bounded pool — the same scan-vs-rerank split as the sketch tiers,
    but with NO quantization error in the coarse key, which is why the
    funnel's recall at equal pool size upper-bounds the 1-bit tier's.
    ``_mrl_funnel_slice`` keeps the storeless logical form (prefix
    sliced in-scan from the full table); the pin suite asserts the two
    are row-identical.

    Determinism is structural: the coarse key is the micro-quantized
    (1e-6) integer cosine over the SAME parquet doubles both engines
    slice, ties break on vec_id, and the re-rank uses the shared
    micro-quantized rank — the proven ``sim_search_topk`` cosine
    device applied to a prefix.  Reference heritage: none (SURVEY §2
    charter extension, similarity family)."""
    ensure_utc(spark)
    # bounded 1-row probe fetch (memoized — ``_probe_vector``)
    pv = _probe_vector(spark, sf_dir)
    if pv is None:
        # no probe vector (empty corpus) — the storeless form returns
        # the correctly-shaped empty frame without building a store
        return _mrl_funnel_slice(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    def _build(d: str) -> None:
        (
            sql(
                spark,
                f"SELECT vec_id, label, slice(v, 1, {MRL_DIMS}) AS prefix"
                f" FROM {_CORPUS}",
                emb=emb,
            )
            # the prefix store is {MRL_DIMS}/64 of the float bytes —
            # keep the file count small at fixture scale (at 100 TB
            # size the task count to healthy parquet splits)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(d)
        )

    store_dir = ensure_store(
        "mrl_prefix",
        sf_dir,
        (dataset_fingerprint(sf_dir, "embeddings"), MRL_DIMS),
        _build,
    )
    pre = spark.read.schema(
        "vec_id BIGINT, label INT, prefix ARRAY<DOUBLE>"
    ).parquet(store_dir)
    p16_lit = _sql_array(pv[:MRL_DIMS], "probe prefix")
    pv_lit = _sql_array(pv, "probe vector")
    # broadcast-safe: pool is LIMIT MRL_POOL (<=40 rows by
    # construction) — constant-bounded regardless of corpus size
    scored = f"""
        SELECT /*+ BROADCAST(pool) */ *, {_cosine("v", pv_lit)} AS c
        FROM {_CORPUS} JOIN (
          SELECT vec_id, c16 FROM (
            SELECT *, {_cosine("prefix", p16_lit)} AS c16 FROM {{pre}}
            WHERE vec_id <> {PROBE_ID}
            ORDER BY {_micro("c16")} DESC, vec_id LIMIT {MRL_POOL})) pool
        USING (vec_id)"""
    return sql(
        spark,
        _top_k(
            scored,
            f"{_micro('c')} DESC, vec_id",
            "vec_id, label, round(c16, 3) + 0.0D AS coarse_cosine,"
            " round(c, 3) + 0.0D AS cosine",
        ),
        emb=emb,
        pre=pre,
    )


def _mrl_funnel_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORELESS logical form of ``sim_search_matryoshka_funnel``
    — the coarse prefix sliced in-scan from the full float table
    against a 1-row probe broadcast.  Kept (unregistered) as the
    row-identity pin target for the prefix-store executed plan, as the
    empty-corpus fallback, and as the per-candidate cost baseline the
    bench compares the store scan against."""
    ensure_utc(spark)
    c16 = _cosine(f"slice(v, 1, {MRL_DIMS})", f"slice(pv, 1, {MRL_DIMS})")
    # broadcast-safe: p is a single query vector (1 row)
    pool = f"""
        WITH e AS {_CORPUS}
        SELECT /*+ BROADCAST(p) */ *, {c16} AS c16
        FROM e CROSS JOIN (SELECT v AS pv FROM e WHERE vec_id = {PROBE_ID}) p
        WHERE vec_id <> {PROBE_ID}
        ORDER BY {_micro("c16")} DESC, vec_id LIMIT {MRL_POOL}"""
    return sql(
        spark,
        _top_k(
            f"SELECT *, {_cosine('v', 'pv')} AS c FROM ({pool})",
            f"{_micro('c')} DESC, vec_id",
            "vec_id, label, round(c16, 3) + 0.0D AS coarse_cosine,"
            " round(c, 3) + 0.0D AS cosine",
        ),
        emb=load_table(spark, sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# IVF + SQ8 composite tier — cell pruning × int8 codes (FAISS "IVFx,SQ8")
# ---------------------------------------------------------------------------

#: the IVF,SQ8 oracle: the seed-centroid IVF gate (cents → assignment
#: argmax → nprobe pick, verbatim from ``_IVF_ORACLE``) restricted to
#: the probed cells, then the SQ8 asymmetric-ADC pool + exact-cosine
#: re-rank tail (verbatim from ``sim_search_sq8_rerank``'s oracle) run
#: over ONLY those cells' vectors
_IVF_SQ8_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    cells AS (
      SELECT vec_id FROM asg
      WHERE cid IN (SELECT cid FROM pc) AND vec_id <> {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT: same duplicated-probe guard as the sq8 oracle
      SELECT DISTINCT dim, pq FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS pq
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    sc AS (
      SELECT e.vec_id,
             list_max(list_transform(e.embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings e JOIN cells USING (vec_id)
    ),
    ve AS (
      SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS x
      FROM embeddings e JOIN cells USING (vec_id)
    ),
    s AS (
      SELECT v.vec_id,
             CAST(sum(p.pq * CASE WHEN sc.scale = 0 THEN 0
                  ELSE CAST(floor(v.x / sc.scale * 127 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS s
      FROM ve v JOIN pe p USING (dim) JOIN sc ON sc.vec_id = v.vec_id
      GROUP BY v.vec_id
    ),
    pool AS (
      SELECT s.vec_id, s.s, sc.scale
      FROM s JOIN sc USING (vec_id)
      ORDER BY CAST(s.s AS DOUBLE) * sc.scale DESC, vec_id
      LIMIT {SQ8_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.s, po.scale,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(CAST(s AS DOUBLE) * scale / 127.0 / 1000000.0, 3) + 0 AS adc,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf_sq8", oracle=_IVF_SQ8_ORACLE)
def sim_search_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN top-k with the inverted lists and codes in-plan (the
    FAISS ``IVFx,SQ8`` shape): the ``sim_search_ivf`` gate keeps the
    probe's ``IVF_NPROBE`` lists, and ``_sq8_topk`` ranks them by their
    int8 codes and re-ranks the pool by exact cosine.

    Inputs: the ``embeddings`` table of ``sf_dir``.  Output: ``vec_id,
    label, adc, cosine, rnk`` (see ``_sq8_topk``).  Row-identical to
    ``sim_search_ivf_sq8_partitioned``.  Raises ``ValueError`` on a
    corpus without seed centroids or probe row."""
    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    cand = _sq8_cand(
        _probed_lists(f"({with_cid(_CORPUS)})", probe_cids, "vec_id, v")
    )
    return sql(spark, _sq8_topk(cand, probe_v), emb=emb)


@query("sim_search_ivf_sq8_partitioned", oracle=_IVF_SQ8_ORACLE)
def sim_search_ivf_sq8_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``sim_search_ivf_sq8`` served from the IVF store
    (``_ivf_store``).

    Inputs, output columns and empty-corpus behavior are
    ``sim_search_ivf_sq8``'s, and the rows are identical.  The probe
    reads only ``vec_id, scale, sq8_codes`` of the probed ``cid``
    partitions, never the float vectors; only the ``SQ8_POOL`` pool
    joins back to the corpus.  The first call for a dataset version
    builds the store."""
    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    store = _ivf_store(spark, sf_dir, emb, with_cid, probe_v)
    cand = _probed_lists("{store}", probe_cids, "vec_id, scale, sq8_codes AS codes")
    return sql(spark, _sq8_topk(cand, probe_v), emb=emb, store=store)


# ---------------------------------------------------------------------------
# cross-ladder recall / scan-cost characterization
# ---------------------------------------------------------------------------

from mapreduceplusplus_spark.registry import ORACLES as _ORACLES_SO_FAR

#: the multiprobe bucket-set SQL fragment (probe's own bucket + the
#: LSH_BITS Hamming-1 flips) — same literal the multiprobe oracle uses
_MP_BSET = ", ".join(
    ["pb.pb"] + [f"xor(pb.pb, {1 << i})" for i in range(LSH_BITS)]
)

#: the IVF coarse gate (cents → probe → assignment argmax → nprobe
#: pick) as a census subquery: the vec_ids whose list the probe scans.
#: Same device as _IVF_ORACLE's asg/pc CTEs.
_IVF_GATE_CENSUS_SQL = f"""
      SELECT count(*) AS cand FROM (
        WITH cents AS (
          SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
        ),
        probe AS (
          SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
          WHERE vec_id = {PROBE_ID}
        ),
        ac AS (
          SELECT e.vec_id, c.cid,
                 CAST(round(1000000 * list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
          FROM embeddings e CROSS JOIN cents c
        ),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY mc DESC, cid) AS rn
            FROM ac) WHERE rn = 1
        ),
        pc AS (
          SELECT cid FROM (
            SELECT c.cid,
                   row_number() OVER (
                     ORDER BY CAST(round(1000000 * list_cosine_similarity(
                       c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
            FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
        )
        SELECT a.vec_id FROM asg a
        WHERE a.cid IN (SELECT cid FROM pc) AND a.vec_id <> {PROBE_ID}
      ) ivf_gate
"""

_RECALL_CURVE_ORACLE = f"""
    WITH exact_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_topk"]}) x),
    ham_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_hamming_rerank"]}) x),
    mrl_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_matryoshka_funnel"]}) x),
    sq8_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_sq8_rerank"]}) x),
    lsh_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_lsh"]}) x),
    mp_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_lsh_multiprobe"]}) x),
    ivf_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivf"]}) x),
    isq_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivf_sq8"]}) x),
    pq_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivfpq"]}) x),
    N AS (SELECT count(*) AS n FROM embeddings WHERE vec_id <> {PROBE_ID}),
    LSHC AS (
      SELECT count(*) AS cand FROM (
        WITH {LSH_BUCKET_CTE},
        pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {PROBE_ID})
        SELECT b.vec_id FROM bucket b CROSS JOIN pb
        WHERE b.bucket = pb.pb AND b.vec_id <> {PROBE_ID}
      ) lsh_gate
    ),
    MPC AS (
      SELECT count(*) AS cand FROM (
        WITH {LSH_BUCKET_CTE},
        pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {PROBE_ID})
        SELECT b.vec_id FROM bucket b CROSS JOIN pb
        WHERE b.bucket IN ({_MP_BSET}) AND b.vec_id <> {PROBE_ID}
      ) mp_gate
    ),
    IVFC AS ({_IVF_GATE_CENSUS_SQL})
    SELECT tier, hits,
           round(hits / {TOP_K}.0, 3) + 0 AS recall_at_k,
           cand_ranked,
           round(cand_ranked / n, 4) + 0 AS frac_ranked,
           cand_exact,
           round(cand_exact / n, 4) + 0 AS frac_exact,
           CAST(n AS BIGINT) AS corpus_n
    FROM (
      SELECT 'exact' AS tier,
             (SELECT count(*) FROM exact_ids) AS hits,
             n AS cand_ranked, n AS cand_exact, n FROM N
      UNION ALL
      SELECT 'hamming',
             (SELECT count(*) FROM ham_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({HAMMING_POOL}, n), n FROM N
      UNION ALL
      SELECT 'mrl16',
             (SELECT count(*) FROM mrl_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({MRL_POOL}, n), n FROM N
      UNION ALL
      SELECT 'sq8',
             (SELECT count(*) FROM sq8_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({SQ8_POOL}, n), n FROM N
      UNION ALL
      SELECT 'lsh',
             (SELECT count(*) FROM lsh_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM LSHC), (SELECT cand FROM LSHC), n FROM N
      UNION ALL
      SELECT 'lsh_multiprobe',
             (SELECT count(*) FROM mp_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM MPC), (SELECT cand FROM MPC), n FROM N
      UNION ALL
      SELECT 'ivf',
             (SELECT count(*) FROM ivf_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC), (SELECT cand FROM IVFC), n FROM N
      UNION ALL
      SELECT 'ivf_sq8',
             (SELECT count(*) FROM isq_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC),
             LEAST({SQ8_POOL}, (SELECT cand FROM IVFC)), n FROM N
      UNION ALL
      SELECT 'ivfpq',
             (SELECT count(*) FROM pq_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC),
             LEAST({PQ_RERANK}, (SELECT cand FROM IVFC)), n FROM N
    ) tiers
    ORDER BY tier
    """


@query("sim_search_recall_curve", oracle=_RECALL_CURVE_ORACLE)
def sim_search_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall and scan cost of every ANN tier at its standing knobs,
    one row per tier, ordered by ``tier``.

    Inputs: the ``embeddings`` table of ``sf_dir``.  Tiers: ``exact``,
    ``hamming``, ``mrl16``, ``sq8``, ``lsh``, ``lsh_multiprobe``,
    ``ivf``, ``ivf_sq8`` and ``ivfpq``.  Each tier's top-k is its
    registered query composed as a sub-plan: the exact and LSH tiers
    over the IVF store's ``vec_id, label, v, bucket`` (``_emb``), the
    IVF tiers as their store-backed queries.  Output columns:

    - ``tier``;
    - ``hits``: |tier top-k ∩ exact top-k|; ``recall_at_k`` = hits /
      ``TOP_K``, rounded to 3 places;
    - ``cand_ranked``: rows the tier's cheap ranking stage touches
      (the whole corpus, the probe's LSH bucket(s) or its IVF lists);
      ``frac_ranked`` = cand_ranked / ``corpus_n``, rounded to 4;
    - ``cand_exact``: rows scored at full precision (the census, or
      its re-rank pool size when smaller); ``frac_exact`` likewise;
    - ``corpus_n``: the non-probe rows.

    The censuses are two bounded aggregates over the IVF store.  Raises
    ``ValueError`` on a corpus without seed centroids or probe row."""
    from functools import reduce as _red

    ensure_utc(spark)
    emb, with_cid, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    base = _ivf_store(spark, sf_dir, emb, with_cid, probe_v)

    not_probe = F.col("vec_id") != PROBE_ID
    row1 = base.agg(
        F.sum(F.when(not_probe, 1).otherwise(0)).alias("n"),
        F.sum(
            F.when(F.col("cid").isin(*probe_cids) & not_probe, 1).otherwise(0)
        ).alias("ivfc"),
        F.max(F.when(~not_probe, F.col("bucket"))).alias("pb"),
    ).collect()[0]
    n, ivf_census = int(row1.n or 0), int(row1.ivfc or 0)
    pb = int(row1.pb)  # the probe row exists: _ivf_seed_lists raised if not
    pbs = [pb, *[pb ^ (1 << i) for i in range(LSH_BITS)]]
    row2 = base.where(not_probe).agg(
        F.sum(F.when(F.col("bucket") == pb, 1).otherwise(0)).alias("lshc"),
        F.sum(F.when(F.col("bucket").isin(pbs), 1).otherwise(0)).alias("mpc"),
    ).collect()[0]
    lsh_census, mp_census = int(row2.lshc or 0), int(row2.mpc or 0)

    corpus = base.select("vec_id", "label", "v", "bucket")
    exact_id_list = sorted(
        int(r.vec_id)
        for r in sim_search_topk(spark, sf_dir, _emb=corpus)
        .select("vec_id")
        .collect()
    )

    # (tier, top-k frame, cand_ranked, cand_exact)
    tiers = [
        ("exact", sim_search_topk(spark, sf_dir, _emb=corpus), n, n),
        ("hamming", sim_search_hamming_rerank(spark, sf_dir), n, min(n, HAMMING_POOL)),
        ("mrl16", sim_search_matryoshka_funnel(spark, sf_dir), n, min(n, MRL_POOL)),
        ("sq8", sim_search_sq8_rerank(spark, sf_dir), n, min(n, SQ8_POOL)),
        ("lsh", sim_search_lsh(spark, sf_dir, _emb=corpus), lsh_census, lsh_census),
        (
            "lsh_multiprobe",
            sim_search_lsh_multiprobe(spark, sf_dir, _emb=corpus),
            mp_census,
            mp_census,
        ),
        ("ivf", sim_search_ivf_partitioned(spark, sf_dir), ivf_census, ivf_census),
        (
            "ivf_sq8",
            sim_search_ivf_sq8_partitioned(spark, sf_dir),
            ivf_census,
            min(ivf_census, SQ8_POOL),
        ),
        (
            "ivfpq",
            sim_search_ivfpq(spark, sf_dir),
            ivf_census,
            min(ivf_census, PQ_RERANK),
        ),
    ]
    rows = []
    in_exact = (
        F.col("vec_id").isin(*exact_id_list)
        if exact_id_list
        else F.lit(False)
    )
    for name, ids, cr, ce in tiers:
        # the ratios stay Spark expressions: F.round is half-up, like
        # the oracle's round
        hits = ids.where(in_exact).agg(F.count("*").alias("hits"))
        rows.append(
            hits.select(
                F.lit(name).alias("tier"),
                F.col("hits").cast("bigint").alias("hits"),
                (
                    F.round(F.col("hits") / F.lit(float(TOP_K)), 3)
                    + F.lit(0.0)
                ).alias("recall_at_k"),
                F.lit(cr).cast("bigint").alias("cand_ranked"),
                (
                    F.round(F.lit(cr) / F.lit(n).cast("double"), 4)
                    + F.lit(0.0)
                ).alias("frac_ranked"),
                F.lit(ce).cast("bigint").alias("cand_exact"),
                (
                    F.round(F.lit(ce) / F.lit(n).cast("double"), 4)
                    + F.lit(0.0)
                ).alias("frac_exact"),
                F.lit(n).cast("bigint").alias("corpus_n"),
            )
        )
    return _red(DataFrame.unionByName, rows).orderBy("tier")
