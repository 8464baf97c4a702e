"""Column-API reference forms of the vector kernels.

The engine renders ``_as_double``, ``_dot``, ``_norm``,
``lsh_signature`` and ``_pack_sign_words`` as SQL text
(``llm/similarity.py``).  These are the same functions written with
the Column API, kept here only as independent references: the brute-
force checks score with them, and ``tests/test_build_cost.py`` pins
that each SQL form optimizes to the same expression as its reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreduceplusplus_spark.llm.similarity import _LSH_SIGNS, LSH_BITS


def _as_double(col: str | Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def lsh_signature(v: Column, bits: int = LSH_BITS) -> Column:
    vm = F.transform(v, lambda x: F.round(F.lit(1000000) * x).cast("long"))
    bucket = F.lit(0).cast("long")
    for i in range(bits):
        signs = F.array(*[F.lit(s) for s in _LSH_SIGNS[i]])
        proj = F.aggregate(
            F.zip_with(vm, signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.shiftleft(F.when(proj > 0, 1).otherwise(0).cast("long"), i)
        )
    return bucket
