"""One normalizer for comparing optimized plans across builds.

Two builds of one query differ in ways that say nothing about the
plan: expression ids (``#123``, ``#7L``), ``plan_id`` tags, and the
names and ids of lambda variables.  The Column API names them ``x_4``
where parsed SQL keeps ``x`` or ``acc``, and a frame reused in two
places keeps one set of ids where SQL text parsed twice gets two.
``normalize`` strips all of these: each lambda variable becomes
``lambda <depth>.<k>``, ``k`` being its position in the parameter list
of the ``lambdafunction`` that binds it and ``depth`` that function's
nesting depth (alpha-renaming), every other expression id becomes
``#``, and ``plan_id`` tags are dropped.  Literal types are left alone,
so a DECIMAL ``0.0`` where a DOUBLE ``0.0D`` belongs still shows in the
data type of the expression that reads it.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession

_FN = "lambdafunction("
_VAR = re.compile(r"lambda \w+#\d+L?")
_PARAMS = re.compile(r"((?:, lambda \w+#\d+L?)+), (?:true|false)$")
_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r",? ?plan_id=\d+")


def _lambda_scopes(plan: str) -> list[tuple[int, int, dict[str, str]]]:
    """``(start, end, {variable: canonical name})`` of every
    ``lambdafunction(...)`` in ``plan``."""
    spans = []
    for m in re.finditer(re.escape(_FN), plan):
        i, depth = m.end(), 1
        while depth and i < len(plan):
            depth += (plan[i] == "(") - (plan[i] == ")")
            i += 1
        spans.append((m.start(), i))
    scopes = []
    for a, b in spans:
        params = _PARAMS.search(plan[a + len(_FN) : b - 1])
        names = _VAR.findall(params.group(1)) if params else []
        depth = sum(1 for c, d in spans if c < a and b <= d)
        scopes.append(
            (a, b, {t: f"lambda {depth}.{k}" for k, t in enumerate(names)})
        )
    return scopes


def normalize(plan: str) -> str:
    scopes = _lambda_scopes(plan)
    out, last = [], 0
    for m in _VAR.finditer(plan):
        tok, bound = m.group(0), None
        for a, b, names in scopes:
            if a <= m.start() < b and tok in names:
                if bound is None or a > bound[0]:
                    bound = (a, names[tok])
        out += [plan[last : m.start()], bound[1] if bound else tok]
        last = m.end()
    out.append(plan[last:])
    return _PLAN_ID.sub("", _EXPR_ID.sub("#", "".join(out)))


def optimized(df: DataFrame) -> str:
    """``df``'s optimized logical plan, normalized."""
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def optimized_expr(
    spark: SparkSession, col: Column, src: DataFrame | None = None
) -> str:
    """The normalized optimized plan of ``col`` projected over ``src``
    (default: one row of ``spark.range``)."""
    src = spark.range(1) if src is None else src
    return optimized(src.select(col.alias("a")))
