#!/usr/bin/env python
"""sf1 fixture generator — GENUINE 10× cardinality, not replication.

Replicating a parquet file N times is the right lever for scan/shuffle
cost but SHARES key values: doc_ids collide, the MMR pool fills with
copies of one document, near-dup pair counts grow quadratically in N
instead of tracking the corpus.  This generator derives an sf1 directory
from the sf0.1 dataset with 10× rows and REAL key cardinality,
deterministically (no RNG state outside seeded ``numpy.default_rng``):

- ``documents``: 10 copies; copy k shifts ``doc_id`` by k·10⁴ and
  RENAMES the whole token vocabulary (suffix ``q``+letter(k), alphabetic
  so the ``[a-z]+`` tokenizer keeps each token whole).  Jaccard is
  invariant under token renaming, so every planted within-copy near-dup
  survives EXACTLY while cross-copy docs share zero shingles — dedup
  output scales linearly (10×), the honest corpus-growth shape.  Vocab
  and n-gram tables grow 10× (genuine for BM25 / heavy hitters /
  perplexity).
- ``embeddings``: 10 copies; ``vec_id`` shifted by k·|rows|, copy k > 0
  perturbed with seeded noise (σ = 0.01·scale) — breaks exact ties so
  top-k/MMR see 10× distinct candidates, keeps the label/cluster
  geometry.
- ``events``: 10 copies; ``event_id``/``user_id`` shifted — 10× genuine
  users over the same time span (a denser stream, not a replayed one).
- ``lineitem``/``orders``: ``l_orderkey``/``o_orderkey`` shifted — 10×
  genuine orders against the 1× dimension tables (co-occurrence graphs
  densify, FKs stay valid).
- dims (``region nation customer supplier part``): copied 1×.

Usage:  python make_sf1.py [--src /root/testdata/sf0.1] [--out /tmp/sf1]

``python bench.py sf1`` builds the same fixture under the index-store
root (``bench.sf1_fixture``) and adopts it on later runs.
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

K = 10
DIMS = ["region", "nation", "customer", "supplier", "part"]


def _letters(k: int) -> str:
    return "q" + chr(ord("a") + k)


def _suffix_text(texts, suf: str):
    return [
        " ".join(w + suf for w in t.split()) if t is not None else None
        for t in texts
    ]


def _check_shift(t: pa.Table, col: str, shift: int, table: str) -> None:
    """Shifts are hardcoded for the default sf0.1 maxima; make a
    mismatched --src LOUD instead of silently producing colliding keys
    across copies (the exact replication artifact this script exists
    to avoid)."""
    mx = pc.max(t[col]).as_py()
    if mx is not None and mx >= shift:
        raise SystemExit(
            f"{table}.{col} max {mx} >= copy shift {shift}: ids would "
            f"collide across copies — raise the shift for this source"
        )


def _check_alpha_tokens(texts) -> None:
    """The vocabulary-rename disjointness argument assumes every
    whitespace token is purely alphabetic: ``'word.' + 'qb'`` would
    tokenize under ``[a-z]+`` as ``'word'`` plus ``'qb'``, silently
    re-sharing tokens across copies.  Make a non-alphabetic --src LOUD
    (the default driver fixture is verified all-alphabetic)."""
    import re

    pat = re.compile(r"[a-z]+\Z")
    for t in texts:
        if t is None:
            continue
        for w in t.split():
            # case-insensitive: the [a-z]+ tokenizer runs on
            # lower(text), so 'The' is safe; only digits/punctuation
            # genuinely break the rename disjointness
            if not pat.match(w.lower()):
                raise SystemExit(
                    f"documents.text token {w!r} is not purely alphabetic: "
                    f"the suffix-rename trick would split it and re-share "
                    f"tokens across copies — clean the source text first"
                )


def gen_documents(src: str, out: str) -> int:
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    shift = 10_000  # > max sf0.1 doc_id (4,999); keeps ids disjoint
    _check_shift(t, "doc_id", shift, "documents")
    _check_alpha_tokens(t["text"].to_pylist())
    parts = []
    for k in range(K):
        doc_id = pc.add(t["doc_id"], shift * k)
        if k == 0:
            txt = t["text"]
        else:
            txt = pa.array(_suffix_text(t["text"].to_pylist(), _letters(k)))
        parts.append(
            pa.table(
                {
                    "doc_id": doc_id,
                    "text": txt,
                    "lang": t["lang"],
                    "source": t["source"],
                    "n_chars": pa.array(
                        [len(x) if x is not None else None for x in txt.to_pylist()],
                        type=pa.int64(),
                    ),
                }
            )
        )
    full = pa.concat_tables(parts)
    pq.write_table(full, os.path.join(out, "documents.parquet"))
    return full.num_rows


def gen_embeddings(src: str, out: str) -> int:
    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    # shift by max(vec_id)+1, not the row count: a --src whose vec_ids
    # are not dense 0..n-1 would otherwise silently produce colliding
    # ids across copies (ADVICE r12).  max+1 disjointness additionally
    # requires non-negative ids (min < 0 would wrap a negative id into
    # the base range) and a non-empty table — both checked LOUDLY
    mx = pc.max(t["vec_id"]).as_py()
    mn = pc.min(t["vec_id"]).as_py()
    if mx is None:
        raise SystemExit("embeddings is empty — nothing to scale")
    if mn < 0:
        raise SystemExit(
            f"embeddings.vec_id min {mn} < 0: max+1 copy shifts would "
            f"collide negative ids into the base range — re-key the source"
        )
    n = mx + 1
    vecs = np.stack(t["embedding"].to_pandas().to_numpy()).astype(np.float32)
    scale = float(np.abs(vecs).mean())
    parts = []
    for k in range(K):
        v = vecs
        if k > 0:
            rng = np.random.default_rng(42 + k)
            v = vecs + rng.normal(0.0, 0.01 * scale, vecs.shape).astype(
                np.float32
            )
        parts.append(
            pa.table(
                {
                    "vec_id": pc.add(t["vec_id"], n * k),
                    "embedding": pa.array(list(v), type=t.schema.field("embedding").type),
                    "label": t["label"],
                }
            )
        )
    full = pa.concat_tables(parts)
    pq.write_table(full, os.path.join(out, "embeddings.parquet"))
    return full.num_rows


def gen_shifted(src: str, out: str, table: str, shifts: dict[str, int]) -> int:
    t = pq.read_table(os.path.join(src, f"{table}.parquet"))
    for name, shift in shifts.items():
        _check_shift(t, name, shift, table)
    parts = []
    for k in range(K):
        cols = {}
        for name in t.column_names:
            col = t[name]
            if name in shifts:
                col = pc.add(col, shifts[name] * k)
            cols[name] = col
        parts.append(pa.table(cols))
    full = pa.concat_tables(parts)
    pq.write_table(full, os.path.join(out, f"{table}.parquet"))
    return full.num_rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf1")
    args = ap.parse_args()
    for table, rows in build(args.src, args.out).items():
        print(f"{table}:", rows)


def build(src: str, out: str) -> dict[str, int]:
    """Write every sf1 table derived from ``src`` into ``out`` (created
    if missing); rows written per non-dimension table."""
    os.makedirs(out, exist_ok=True)
    for d in DIMS:
        shutil.copyfile(
            os.path.join(src, f"{d}.parquet"), os.path.join(out, f"{d}.parquet")
        )
    # key shifts: > the max key in the sf0.1 table, round numbers
    return {
        "documents": gen_documents(src, out),
        "embeddings": gen_embeddings(src, out),
        "events": gen_shifted(
            src, out, "events", {"event_id": 1_000_000, "user_id": 1_000_000}
        ),
        "lineitem": gen_shifted(src, out, "lineitem", {"l_orderkey": 1_000_000}),
        "orders": gen_shifted(src, out, "orders", {"o_orderkey": 1_000_000}),
    }


if __name__ == "__main__":
    main()
