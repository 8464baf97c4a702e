"""Focused pins for the r16 optimization-round internals: every change
was value-preserving by construction — these tests pin that property
directly (the oracle differentials pin it end-to-end).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.sources.tables import load_table
from tests.conftest import SF_DIR_ORACLE

registry.load_all()


def test_lsh_signature_sql_form_equals_column_form(spark):
    """r16: ``lsh_signature`` renders one parsed SQL string when given
    a column NAME (driver-side build cost); the parsed tree must
    compute the identical bucket id as the Column-API form on every
    corpus vector (integer arithmetic — bit-exact by construction,
    pinned here against silent drift in either form)."""
    from mapreduceplusplus_spark.llm.similarity import _as_double, lsh_signature

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    both = emb.select(
        "vec_id",
        lsh_signature("v").alias("b_sql"),
        lsh_signature(F.col("v")).alias("b_col"),
    )
    bad = both.where(F.col("b_sql") != F.col("b_col")).count()
    assert bad == 0
    # and the signature space is actually populated (not all-zero)
    assert both.select("b_sql").distinct().count() > 1


def test_ivf_seed_passthrough_row_identical(spark):
    """r16: the private ``_seed`` kwarg (recall-curve sharing) must be
    a pure pass-through — calling the IVF tiers with a precomputed
    (and localCheckpointed) ``_ivf_seed_lists`` tuple returns rows
    identical to the self-build path."""
    from mapreduceplusplus_spark.llm import similarity as S

    emb, with_cid, probe_v, probe_cids = S._ivf_seed_lists(spark, SF_DIR_ORACLE)
    seed = (with_cid(emb).localCheckpoint(eager=True), with_cid, probe_v, probe_cids)
    for fn in (S.sim_search_ivf, S.sim_search_ivf_sq8, S.sim_search_ivfpq):
        base = sorted(map(tuple, fn(spark, SF_DIR_ORACLE).collect()))
        shared = sorted(
            map(tuple, fn(spark, SF_DIR_ORACLE, _seed=seed).collect())
        )
        assert base == shared, fn.__name__


def test_lsh_emb_passthrough_row_identical(spark):
    """r16: the private ``_emb`` kwarg (recall-curve sharing) must be a
    pure pass-through for both LSH tiers."""
    from mapreduceplusplus_spark.llm import similarity as S

    embb = (
        load_table(spark, SF_DIR_ORACLE, "embeddings")
        .select(
            "vec_id", "label", S._as_double("embedding").alias("v")
        )
        .withColumn("bucket", S.lsh_signature("v"))
        .localCheckpoint(eager=True)
    )
    for fn in (S.sim_search_lsh, S.sim_search_lsh_multiprobe):
        base = sorted(map(tuple, fn(spark, SF_DIR_ORACLE).collect()))
        shared = sorted(
            map(tuple, fn(spark, SF_DIR_ORACLE, _emb=embb).collect())
        )
        assert base == shared, fn.__name__


def test_ingest_near_batch_restricted_frames_match_full_filter(spark):
    """r16: the incremental near-dup probe now shingles/bands ONLY the
    batch slice.  Shingling and banding are per-document, so the
    restricted frames must equal the full-corpus frames filtered to
    the batch — pinned directly (the end-to-end verdict equality is
    the oracle's job)."""
    from mapreduceplusplus_spark.llm import dedup as D

    docs_full = D._doc_shingles(spark, SF_DIR_ORACLE)
    is_batch = F.col("doc_id") % D.INGEST_NEAR_MOD == 0
    full_restricted = sorted(
        (r.doc_id, tuple(r.sh))
        for r in docs_full.where(is_batch).collect()
    )
    batch_only = sorted(
        (r.doc_id, tuple(r.sh))
        for r in D._shingle_frame(
            load_table(spark, SF_DIR_ORACLE, "documents")
            .where(is_batch)
            .select("doc_id", "text")
        ).collect()
    )
    assert full_restricted == batch_only
    # ADVICE r16: names say what each side IS — bands of the
    # batch-restricted shingle frame vs the full band table filtered
    # down to the batch (the assertion itself was always correct)
    bands_of_restricted = sorted(
        map(tuple, D._minhash_bands(docs_full.where(is_batch)).collect())
    )
    bands_filtered = sorted(
        map(tuple, D._minhash_bands(docs_full).where(is_batch).collect())
    )
    assert bands_of_restricted == bands_filtered
