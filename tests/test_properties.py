"""Property-based tests (hypothesis) for the generic operator helpers:
random inputs, compared against trivially-correct pure-Python models.
Example counts are small — every example runs real Spark jobs.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from mapreduceplusplus_spark.operators.asof import as_of_join
from mapreduceplusplus_spark.operators.joins import salted_join

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.sampled_from(["a", "b", "c"])
_ts = st.integers(min_value=0, max_value=20)


@st.composite
def _asof_inputs(draw):
    left = draw(
        st.lists(st.tuples(_keys, _ts), min_size=1, max_size=12)
    )
    right_raw = draw(
        st.lists(
            st.tuples(_keys, _ts, st.integers(min_value=-5, max_value=5)),
            min_size=0,
            max_size=12,
        )
    )
    # contract: right unique per (key, ts) — keep max value as the dedup
    right = {}
    for k, t, v in right_raw:
        right[(k, t)] = max(v, right.get((k, t), -(10**9)))
    return left, [(k, t, v) for (k, t), v in right.items()]


@given(_asof_inputs())
@settings(**_SETTINGS)
def test_asof_join_matches_python_model(spark, data):
    """as_of_join == per-left-row argmax of right rows with rts <= ts
    (inclusive), NULL when none — on arbitrary key/ts distributions
    including duplicate left timestamps and empty right sides."""
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [Row(k=k, ts=t, lid=i) for i, (k, t) in enumerate(left_rows)],
        "k string, ts int, lid int",
    )
    right = spark.createDataFrame([], "k string, rts int, v int") if not right_rows else (
        spark.createDataFrame(
            [Row(k=k, rts=t, v=v) for k, t, v in right_rows],
            "k string, rts int, v int",
        )
    )
    got = {
        r.lid: r.v_out
        for r in as_of_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_cols={"v_out": "v"},
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, f"left row {i} ({k},{t}): {got[i]} != {expect}"


@pytest.mark.slow
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=20),
    st.lists(st.tuples(st.integers(0, 5), st.text("xy", max_size=2)), min_size=0, max_size=8),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, big_rows, small_rows):
    """salted_join is result-invariant vs the plain inner join on
    arbitrary data — including duplicate keys on BOTH sides (each big
    row must meet every matching small row exactly once, through
    exactly one salt replica)."""
    big = spark.createDataFrame(
        [Row(bk=k, uid=i, payload=p) for i, (k, p) in enumerate(big_rows)],
        "bk int, uid int, payload int",
    )
    small = spark.createDataFrame(
        [Row(sk=k, tag=t) for k, t in small_rows], "sk int, tag string"
    )
    salted = sorted(
        (r.uid, r.tag)
        for r in salted_join(big, small, "bk", "sk", unique_col="uid", salt=4).collect()
    )
    plain = sorted(
        (r.uid, r.tag) for r in big.join(small, big.bk == small.sk, "inner").collect()
    )
    assert salted == plain


@given(st.binary(min_size=0, max_size=4000))
@settings(**_SETTINGS)
def test_ppm_codec_roundtrip(data):
    """PPM codec totality/roundtrip (pure functions — no Spark in the
    loop): encode always yields a decodable P6 whose raster starts with
    the input bytes verbatim (padding is zeros), and the re-encoded
    decode is byte-identical (idempotent fixpoint)."""
    from mapreduceplusplus_spark.llm.multimodal import ppm_decode, ppm_encode

    payload = ppm_encode(data)
    decoded = ppm_decode(payload)
    assert decoded is not None
    w, h, px = decoded
    flat = px.tobytes()
    assert flat[: len(data)] == data
    assert set(flat[len(data):]) <= {0}
    assert ppm_encode(flat[: len(data)]) == payload


@given(st.binary(min_size=0, max_size=2000))
@settings(**_SETTINGS)
def test_ppm_frame_walk_totality(data):
    """The multi-frame container built from ANY byte string is walked
    back into exactly its frame count with exact sizes (the sampler
    never under- or over-reads a well-formed container)."""
    import re as _re

    from mapreduceplusplus_spark.llm.multimodal import _PPM_HEADER, _ppm_frames

    frames = _ppm_frames(data)
    container = b"".join(frames)
    off, walked = 0, []
    while off < len(container):
        m = _PPM_HEADER.match(container[off : off + 64])
        assert m, "walk desynchronized"
        w, h = int(m.group(1)), int(m.group(2))
        size = m.end() + w * h * 3
        walked.append(size)
        off += size
    assert walked == [len(f) for f in frames]


@given(
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=1, max_value=55),
)
@settings(max_examples=30, deadline=None)
def test_ahash_brightness_shift_invariance(seed, shift):
    """aHash property: adding a uniform (non-clipping) brightness shift
    to every pixel leaves the hash unchanged — the threshold is the
    image's own mean, so it shifts along with the cells."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import _ahash64

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 200, size=(16, 16, 3)).astype(np.uint8)
    shifted = (px.astype(np.int64) + shift).clip(0, 255).astype(np.uint8)
    assert (shifted.astype(np.int64) - px.astype(np.int64) == shift).all()
    assert _ahash64(px) == _ahash64(shifted)


@given(st.integers(min_value=0, max_value=200))
@settings(max_examples=20, deadline=None)
def test_ahash_block_upscale_invariance(seed):
    """aHash property: 2x nearest-neighbor block upscaling of an 8x8
    image leaves the hash unchanged — the 8x8 resample lands on the
    same cell values, which is exactly the resize-robustness claim
    perceptual hashing rests on."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import _ahash64

    rng = np.random.RandomState(seed)
    small = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    big = small.repeat(2, axis=0).repeat(2, axis=1)
    assert _ahash64(small) == _ahash64(big)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


_words = st.text(alphabet="abcde", min_size=1, max_size=12)


@pytest.mark.slow
@given(st.lists(_words, min_size=2, max_size=14, unique=True))
@settings(**_SETTINGS)
def test_editdist_pairs_lossless_vs_bruteforce(spark, names):
    """The df-ordered q-gram prefix filter in ``editdist_pairs`` is
    LOSSLESS: over random words from a tiny alphabet (chosen to
    maximize shared-gram collisions AND near-miss pairs), the
    filtered join returns exactly the all-pairs Levenshtein<=2 set —
    no survivor pruned, no phantom pair.  min_size=1 deliberately
    includes names BELOW the 2·max_dist+2 gram-filter minimum, so the
    round-7 short×short brute-force leg (previously a documented-but-
    unenforced precondition) is exercised: a ('ab','cd') pair has
    distance 2 with zero shared grams and must still surface."""
    from mapreduceplusplus_spark.llm.dedup import editdist_pairs

    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in editdist_pairs(df, max_dist=2).collect()
    }
    want = {
        (a, b, _lev(a, b))
        for i, a in enumerate(sorted(names))
        for b in sorted(names)[i + 1:]
        if _lev(a, b) <= 2
    }
    assert got == want


@given(_asof_inputs())
@settings(**_SETTINGS)
def test_asof_join_forward_matches_python_model(spark, data):
    """direction='forward' == per-left-row argmin of right rows with
    rts >= ts (inclusive), NULL when none — the mirror of the backward
    model on the same arbitrary key/ts distributions."""
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [Row(k=k, ts=t, lid=i) for i, (k, t) in enumerate(left_rows)],
        "k string, ts int, lid int",
    )
    right = spark.createDataFrame([], "k string, rts int, v int") if not right_rows else (
        spark.createDataFrame(
            [Row(k=k, rts=t, v=v) for k, t, v in right_rows],
            "k string, rts int, v int",
        )
    )
    got = {
        r.lid: r.v_out
        for r in as_of_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_cols={"v_out": "v"}, direction="forward",
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt >= t]
        expect = min(cands)[1] if cands else None
        assert got[i] == expect, f"left row {i} ({k},{t}): {got[i]} != {expect}"


@given(
    st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_cusum_closed_form_property(ys):
    """events_cusum_drift's load-bearing identity, property-tested:
    for ANY integer deviation sequence, S_i − min(0, min_{j≤i} S_j)
    equals the textbook recursion s_i = max(0, s_{i−1} + y_i) at every
    step (pure math — no Spark; the planted-fixture tests pin the
    wiring).  Random sequences cover the positive-start,
    negative-start, and oscillating walks the single fixture cannot."""
    s_rec, mx_rec = 0, 0
    S, lo = 0, 0
    for y in ys:
        s_rec = max(0, s_rec + y)           # textbook recursion
        S += y                               # closed form pieces
        lo = min(lo, S)                      # min INCLUDING S0 = 0
        assert s_rec == S - lo
        mx_rec = max(mx_rec, s_rec)
    assert mx_rec >= 0                       # CUSUM is never negative


@given(
    st.integers(min_value=-(10**15), max_value=10**15),
    st.integers(min_value=1, max_value=10**9),
)
@settings(max_examples=300, deadline=None)
def test_floor_div_sql_property(n, d):
    """floor_div_sql's CASE must equal Python's true-floor // for any
    numerator sign and positive denominator — evaluated on BOTH
    engines via DuckDB (cheap per-case) and spot-checked on Spark by
    the dedicated unit test; here the DuckDB leg sweeps the space.
    Operands are CAST to BIGINT, mirroring the helper's documented
    precondition: every real call site feeds BIGINT aggregates, while
    bare SQL literals type as INT32 in DuckDB and the internal
    (−n + d − 1) would overflow INT32 (hypothesis found this)."""
    import duckdb

    from mapreduceplusplus_spark.session import floor_div_sql

    frag = floor_div_sql(
        f"CAST({n} AS BIGINT)", f"CAST({d} AS BIGINT)", "duckdb"
    )
    got = duckdb.sql(f"SELECT {frag} AS v").fetchone()[0]
    assert got == n // d, (n, d, got)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),   # u draw
            st.integers(min_value=1, max_value=10**5),   # weight
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_priority_sampling_weight_monotone(pairs):
    """Sequential-Poisson key property: for a FIXED u, increasing the
    weight never worsens (increases) the key — the monotonicity that
    makes u/w a valid weighted-sampling priority."""
    keys = [((u + 1) / 10**6) / w for u, w in pairs]
    for (u, w), k in zip(pairs, keys):
        assert ((u + 1) / 10**6) / (w + 1) <= k   # heavier -> no worse
    # (an earlier "order-invariance" half re-sorted the same keyed list
    # and could never fail — dropped as vacuous, review r7s4; the Spark
    # selection itself is pinned by the planted-corpus recompute test)


@given(_asof_inputs())
@settings(**_SETTINGS)
def test_asof_join_nearest_matches_python_model(spark, data):
    """nearest == per-left-row argmin |rts - ts| with ties to the
    EARLIER right row (and among equal-|dt|-equal-ts duplicates the
    model mirrors the dedup precondition) — on arbitrary key/ts
    distributions including empty right sides."""
    from mapreduceplusplus_spark.operators.asof import as_of_join

    left_rows, right_rows = data
    left = spark.createDataFrame(
        [Row(k=k, ts=t, lid=i) for i, (k, t) in enumerate(left_rows)],
        "k string, ts int, lid int",
    )
    right = spark.createDataFrame([], "k string, rts int, v int") if not right_rows else (
        spark.createDataFrame(
            [Row(k=k, rts=t, v=v) for k, t, v in right_rows],
            "k string, rts int, v int",
        )
    )
    got = {
        r.lid: r.v_out
        for r in as_of_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_cols={"v_out": "v"}, direction="nearest",
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        back = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt <= t]
        fwd = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt >= t]
        b = max(back) if back else None       # latest at-or-before
        f = min(fwd) if fwd else None         # earliest at-or-after
        if b is None and f is None:
            expect = None
        elif b is None:
            expect = f[1]
        elif f is None:
            expect = b[1]
        else:
            expect = b[1] if (t - b[0]) <= (f[0] - t) else f[1]
        assert got[i] == expect, f"left row {i} ({k},{t}): {got[i]} != {expect}"


@given(
    st.lists(
        st.tuples(st.integers(0, 31), st.integers(0, 1000), st.integers(0, 1000)),
        min_size=0,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
@settings(**_SETTINGS)
def test_census_offsets_literal_matches_prefix_sums(spark, census_rows):
    """census_offsets_literal (the shared step-4 of the two-pass
    bucketed rank) must return, for every bucket, EXACTLY the sum of
    all strictly-earlier buckets' values per column — checked against
    a direct Python prefix sum over arbitrary (sparse, unordered)
    censuses, including the empty census."""
    from mapreduceplusplus_spark.operators.aggregates import (
        census_offsets_literal,
    )

    census = spark.createDataFrame(
        census_rows, "_bkt int, _c bigint, _s bigint"
    )
    out = {
        r._bkt: (r.off_c, r.off_s)
        for r in census_offsets_literal(
            spark, census, "_bkt", ["_c", "_s"], ["off_c", "off_s"]
        ).collect()
    }
    assert set(out) == {b for b, _, _ in census_rows}
    for bkt, _, _ in census_rows:
        exp_c = sum(c for b, c, _ in census_rows if b < bkt)
        exp_s = sum(s for b, _, s in census_rows if b < bkt)
        assert out[bkt] == (exp_c, exp_s), bkt


@given(
    st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7), st.integers(1, 9)
        ),
        min_size=1,
        max_size=14,
    ),
    st.sets(st.integers(0, 7), min_size=1, max_size=3),
)
@settings(**_SETTINGS)
def test_bellman_ford_matches_python_dijkstra(spark, raw_edges, sources):
    """Distributed Bellman-Ford on random small weighted graphs must
    equal a pure-Python Dijkstra per source (parallel edges keep the
    min weight; self-loops dropped; isolated sources still report
    dist 0 to themselves; unreachable vertices absent)."""
    import heapq

    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.operators.graph import bellman_ford

    edges = [(u, v, w) for u, v, w in raw_edges if u != v]

    adj: dict[int, dict[int, int]] = {}
    for u, v, w in edges:
        for x, y in ((u, v), (v, u)):
            cur = adj.setdefault(x, {})
            cur[y] = min(cur.get(y, w), w)

    expect = {}
    for s in sources:
        dist = {s: 0}
        heap = [(0, s)]
        while heap:
            d, x = heapq.heappop(heap)
            if d > dist.get(x, 1 << 60):
                continue
            for y, w in adj.get(x, {}).items():
                nd = d + w
                if nd < dist.get(y, 1 << 60):
                    dist[y] = nd
                    heapq.heappush(heap, (nd, y))
        for v, d in dist.items():
            expect[(s, v)] = d

    if edges:
        df = spark.createDataFrame(edges, "a bigint, b bigint, w bigint")
        e2 = df.select(
            F.col("a").alias("u"), F.col("b").alias("v"), "w"
        ).unionAll(df.select(F.col("b").alias("u"), F.col("a").alias("v"), "w"))
    else:
        e2 = spark.createDataFrame([], "u bigint, v bigint, w bigint")
    srcs = spark.createDataFrame([(s,) for s in sources], "source bigint")
    dists, _rounds = bellman_ford(e2, srcs)
    got = {(r.source, r.v): r.dist for r in dists.collect()}
    assert got == expect


@given(
    st.dictionaries(
        st.integers(0, 9), st.integers(-3, 3), min_size=0, max_size=8
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["upsert", "delete"]),
            st.integers(0, 9),
            st.integers(-3, 3),
        ),
        min_size=0,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_incremental_diff_matches_full_recompute_model(spark, old, log_raw):
    """The incremental-CDC core on RANDOM snapshots and logs must equal
    the full-recompute model (apply the log in sequence → new snapshot
    → dict diff): last writer wins, no-op upserts and deletes of absent
    keys emit nothing, re-inserts after delete surface as changed or
    added correctly."""
    from mapreduceplusplus_spark.operators.relational import (
        incremental_diff,
    )

    log = [(i + 1, op, k, float(v)) for i, (op, k, v) in enumerate(log_raw)]

    # python model: full recompute
    new = {k: float(v) for k, v in old.items()}
    for _seq, op, k, v in log:
        if op == "delete":
            new.pop(k, None)
        else:
            new[k] = v
    expect = {}
    for k in set(old) | set(new):
        o = float(old[k]) if k in old else None
        n = new.get(k)
        if k in old and k not in new:
            expect[k] = ("removed", o, None)
        elif k not in old and k in new:
            expect[k] = ("added", None, n)
        elif o != n:
            expect[k] = ("changed", o, n)

    old_df = spark.createDataFrame(
        [(k, float(v)) for k, v in old.items()], "k bigint, old_bal double"
    )
    log_df = spark.createDataFrame(
        log, "seq int, op string, k bigint, bal double"
    )
    got = {
        r.k: (r.change_type, r.old_bal, r.new_bal)
        for r in incremental_diff(old_df, log_df).collect()
    }
    assert got == expect


@st.composite
def _boiler_docs(draw):
    vocab = ["agg", "scan", "join", "key"]
    n = draw(st.integers(min_value=1, max_value=10))
    docs = []
    for i in range(n):
        words = draw(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=25)
        )
        src = draw(st.sampled_from(["s0", "s1"]))
        docs.append((i, " ".join(words), src))
    return docs


@given(_boiler_docs())
@settings(**_SETTINGS)
def test_boilerplate_lines_matches_python_model(spark, docs):
    """``dedup_boilerplate_lines`` == the pure-Python CCNet model on
    random tiny-vocabulary corpora (the 4-word vocabulary maximizes
    repeated 10-token windows, the boilerplate trigger; empty texts
    exercise the zero-token explode_outer path and the ppm guard):
    per-domain segment document frequency, boiler at df >= 2 DISTINCT
    docs, per-doc retained-token rollup with floor-div ppm."""
    import math
    import shutil
    import tempfile

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.dedup import (
        BOILER_MIN_DF,
        BOILER_SEG_TOKENS,
    )

    registry.load_all()
    out = tempfile.mkdtemp(prefix="boiler_prop_")
    try:
        spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")

        W = BOILER_SEG_TOKENS
        segs_by_doc: dict[int, list[tuple]] = {}
        df_count: dict[tuple, set] = {}
        for i, t, s in docs:
            import re

            toks = re.findall(r"[a-z]+", t.lower())
            segs = [
                tuple(toks[j * W : (j + 1) * W])
                for j in range(math.ceil(len(toks) / W))
            ]
            segs_by_doc[i] = (s + ".example.com", toks, segs)
            for seg in segs:
                df_count.setdefault((s + ".example.com", seg), set()).add(i)
        want = {}
        for i, (dom, toks, segs) in segs_by_doc.items():
            boiler = [
                seg for seg in segs if len(df_count[(dom, seg)]) >= BOILER_MIN_DF
            ]
            ret = sum(
                len(seg)
                for seg in segs
                if len(df_count[(dom, seg)]) < BOILER_MIN_DF
            )
            nt = len(toks)
            ppm = 1000000 if nt == 0 else (1000000 * ret) // nt
            want[i] = (dom, nt, len(segs), len(boiler), ret, ppm)

        got = {
            r.doc_id: (
                r.domain,
                r.n_tokens,
                r.n_segments,
                r.n_boiler_segments,
                r.n_retained_tokens,
                r.retained_ppm,
            )
            for r in registry.queries()["dedup_boilerplate_lines"](
                spark, out
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(out, ignore_errors=True)


@st.composite
def _qcls_docs(draw):
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    n = draw(st.integers(min_value=1, max_value=8))
    docs = []
    for i in range(n):
        words = draw(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12)
        )
        docs.append((i, " ".join(words)))
    return docs


@given(_qcls_docs())
@settings(**_SETTINGS)
def test_quality_classifier_matches_python_model(spark, docs):
    """``text_quality_classifier_hashed`` == the pure-Python fastText
    model on random tiny-vocabulary corpora: unigram + adjacent-bigram
    features, md5-derived bucket and stand-in weight, exact integer
    milli-unit sums, sign-test keep; zero-token docs emit no row.  The
    tiny vocabulary maximizes bucket collisions, so the hashing-trick
    aggregation (not just the hash) is what's being pinned."""
    import hashlib
    import re
    import shutil
    import tempfile

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.textstats import QCLS_D, QCLS_WSPAN

    registry.load_all()

    def h40(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    def weight(bucket: int) -> int:
        return h40(f"w:{bucket}") % QCLS_WSPAN - 1000

    want = {}
    for i, t in docs:
        toks = re.findall(r"[a-z]+", t.lower())
        feats = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        if not feats:
            continue
        s = sum(weight(h40(f"q:{f}") % QCLS_D) for f in feats)
        want[i] = (len(feats), s, s >= 0)

    out = tempfile.mkdtemp(prefix="qcls_prop_")
    try:
        spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            out + "/documents.parquet"
        )
        got = {
            r.doc_id: (r.n_feats, r.sum_w_milli, r.keep)
            for r in registry.queries()["text_quality_classifier_hashed"](
                spark, out
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(out, ignore_errors=True)


_sq8_floats = st.floats(
    allow_nan=False,
    allow_infinity=False,
    width=64,
    min_value=-1e6,
    max_value=1e6,
)


@given(
    st.lists(
        st.lists(_sq8_floats, min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    ).filter(lambda vs: len({len(v) for v in vs}) == 1)
)
@settings(**_SETTINGS)
def test_sq8_quantizer_matches_python_model(spark, vectors):
    """The shared SQ8 quantization device (``_sq8_scale`` /
    ``_sq8_codes`` — one definition under ``sim_search_sq8_rerank``,
    ``sim_search_ivf_sq8``, and the persisted code index of
    ``sim_search_ivf_sq8_partitioned``) == the pure-Python twin
    ``_py_sq8`` on random vectors, including all-zero vectors (the
    zero-scale guard), sign mixes, and magnitude extremes: same
    IEEE-double expression tree ``floor((x/scale)·127 + 0.5)``, so
    codes agree EXACTLY, and the tinyint carrier (the 1 B/dim index
    layout) is pinned lossless against the bigint one."""
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.llm.similarity import (
        _py_sq8,
        _sq8_codes,
        _sq8_scale,
    )

    df = (
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(vectors)],
            "vec_id long, v array<double>",
        )
        .withColumn("scale", F.expr(f"CAST({_sq8_scale()} AS DOUBLE)"))
        .withColumn("codes", F.expr(_sq8_codes()))
        .withColumn("codes8", F.expr(_sq8_codes("tinyint")))
    )
    got = {r.vec_id: (r.scale, list(r.codes), list(r.codes8)) for r in df.collect()}
    for i, v in enumerate(vectors):
        scale, codes = _py_sq8(v)
        assert got[i][0] == scale, (i, v)
        assert got[i][1] == codes, (i, v)
        assert got[i][2] == codes, (i, v)  # tinyint carrier lossless
        assert all(-127 <= c <= 127 for c in codes), (i, v)


_enc_frag = st.sampled_from(
    [
        "plain words",
        "\u00e2\u20ac\u2122",          # \u00e2\u20ac\u2122 smart-quote damage
        "\u00c3\u00a9",                 # Ã© continuation pair
        "\u00c3\u0081",                 # Ã + C1-range continuation
        "\u00c2\u00b0",                 # Â° stray-Â punctuation
        "\ufffd",                        # replacement char
        "\x01", "\x0b", "\x1f",        # C0 controls (counted)
        "\t\nok\r",                    # whitelisted controls (NOT counted)
        "\u00c3Z",                       # Ã before ASCII — NOT mojibake
        "\u00c2z",                       # Â before ASCII — NOT mojibake
        "",
    ]
)


@given(
    st.lists(
        st.lists(_enc_frag, min_size=0, max_size=6).map("".join),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_encoding_quality_matches_python_model(spark, texts):
    """``text_encoding_quality`` == an independent pure-Python ``re``
    model (a THIRD regex dialect next to Java regex and RE2, so the
    pattern SEMANTICS are pinned, not just cross-engine agreement) on
    corpora assembled from damage fragments: every census, both exact
    half-up ppm rates, and the keep verdict — including the negative
    space (tab/newline/CR whitelisted, Ã/Â before ASCII not counted)."""
    import re
    import shutil
    import tempfile

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.textstats import (
        CTRL_PPM_MAX,
        MOJI_PPM_MAX,
        _CTRL_PAT,
        _MOJI_PAT,
    )

    registry.load_all()
    moji = re.compile(_MOJI_PAT)
    ctrl = re.compile(_CTRL_PAT)

    def ppm(n: int, nc: int) -> int:
        return (2 * 1000000 * n + nc) // (2 * nc) if nc else 0

    want = {}
    for i, t in enumerate(texts):
        nc = len(t)
        n_repl = t.count("\ufffd")
        n_moji = len(moji.findall(t))
        n_ctrl = len(ctrl.findall(t))
        want[i] = (
            n_repl,
            n_moji,
            n_ctrl,
            ppm(n_moji, nc),
            ppm(n_ctrl, nc),
            n_repl == 0
            and ppm(n_moji, nc) < MOJI_PPM_MAX
            and ppm(n_ctrl, nc) < CTRL_PPM_MAX,
        )

    out = tempfile.mkdtemp(prefix="encq_prop_")
    try:
        spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            out + "/documents.parquet"
        )
        got = {
            r.doc_id: (
                r.n_repl, r.n_moji, r.n_ctrl,
                r.moji_ppm, r.ctrl_ppm, r.keep,
            )
            for r in registry.queries()["text_encoding_quality"](
                spark, out
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(out, ignore_errors=True)
