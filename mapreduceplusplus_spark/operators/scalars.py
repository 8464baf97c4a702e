"""Scalar function surface (SURVEY.md §2.B rows ``scalar_string``,
``scalar_date``, ``scalar_math``, ``scalar_case_when``, ``scalar_array``,
``scalar_json``).

Reference heritage: A3 — the only scalar logic the reference has is the
inline tokenizer in the map coroutine (``mr/word_count.h:22-31``).  Here
each family is a vectorized JVM expression inside whole-stage codegen;
none of these queries shuffles (pure narrow projections) except where a
final small aggregate bounds the result.

Known Spark↔DuckDB dialect traps normalized on BOTH sides:
- ``ceil``/``floor``: Spark → BIGINT, DuckDB → DOUBLE ⇒ oracle casts;
- double→string rendering differs (Spark uses scientific notation below
  1e-3) ⇒ never string-format doubles, compare rounded numerics;
- day-of-week numbering differs ⇒ avoided;
- integer ``/`` is true division in both Spark 3+ and DuckDB, but we pin
  explicit casts anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "scalar_string",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                              AS name_lower,
           upper(p_brand)                             AS brand_upper,
           substr(p_name, 1, 5)                       AS name_head,
           trim(concat(p_type, ' '))                  AS type_trim,
           concat(p_brand, ':', p_type)               AS brand_type,
           CAST(length(p_name) AS INT)                AS name_len,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devoweled,
           replace(p_name, ' ', '_')                  AS name_snake
    FROM part
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower/upper/substr/trim/concat/length/regexp_replace/replace.

    DuckDB ``regexp_replace`` replaces only the first match unless the
    'g' flag is passed; Spark's always replaces globally — oracle pins
    'g' so both sides agree.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.trim(F.concat(F.col("p_type"), F.lit(" "))).alias("type_trim"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_devoweled"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@query(
    "scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                    AS order_year,
           CAST(month(o_orderdate) AS INT)                   AS order_month,
           CAST(day(o_orderdate) AS INT)                     AS order_day,
           CAST(quarter(o_orderdate) AS INT)                 AS order_quarter,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
                                                             AS days_since_epoch95,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')    AS due_date
    FROM orders
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/quarter/date_trunc/datediff/date arithmetic.
    Timestamps render to ISO strings on both sides (SURVEY §7 trap 3)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_epoch95"
        ),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
    )


@query(
    "scalar_math",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice, 1)                         AS price_r1,
           round(abs(p_retailprice - 1000), 2)             AS abs_dev,
           CAST(ceil(p_retailprice) AS BIGINT)             AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT)            AS price_floor,
           round(ln(p_retailprice), 6)                     AS price_ln,
           round(pow(CAST(p_size AS DOUBLE), 2), 1)        AS size_sq,
           round(sqrt(p_retailprice), 6)                   AS price_sqrt,
           p_size % 5                                      AS size_mod5
    FROM part
    WHERE p_retailprice > 0
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/ln/pow/sqrt/mod.  Spark ``ceil``/``floor``
    return BIGINT while DuckDB returns DOUBLE — oracle casts to match."""
    part = load_table(spark, sf_dir, "part")
    return part.where(F.col("p_retailprice") > 0).select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r1"),
        F.round(F.abs(F.col("p_retailprice") - 1000), 2).alias("abs_dev"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.pow(F.col("p_size").cast("double"), 2), 1).alias("size_sq"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        (F.col("p_size") % 5).alias("size_mod5"),
    )


@query(
    "scalar_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END          AS price_bucket,
           o_orderstatus,
           count(*)                      AS n,
           round(sum(o_totalprice), 2)   AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN branching feeding a group-by."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return (
        orders.withColumn("price_bucket", bucket)
        .groupBy("price_bucket", "o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "scalar_array",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT)                                  AS n_dims,
           round(CAST(embedding[1] AS DOUBLE), 6) + 0                   AS first_dim,
           round(list_sum(list_transform(embedding[1:3],
                                         x -> CAST(x AS DOUBLE))), 6) + 0 AS head3_sum,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)      AS l2_norm,
           round(list_max(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * 2)), 6) + 0                   AS max_scaled
    FROM embeddings
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops on the embedding column: size, element_at, slice, and
    higher-order transform/aggregate — all Catalyst expressions (no UDF).
    float32 elements cast to double BEFORE arithmetic so both engines
    compute on identical doubles (FIXTURES.md note); doubles are compared
    as rounded numerics, never strings (Spark renders small doubles in
    scientific notation).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        (F.round(F.element_at("embedding", 1).cast("double"), 6) + F.lit(0.0)).alias(
            "first_dim"
        ),
        (
            F.round(
                F.aggregate(
                    F.slice(as_double, 1, 3), F.lit(0.0), lambda acc, x: acc + x
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("head3_sum"),
        F.round(
            F.sqrt(F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x)), 6
        ).alias("l2_norm"),
        (
            F.round(F.array_max(F.transform(as_double, lambda x: x * 2)), 6)
            + F.lit(0.0)
        ).alias("max_scaled"),
    )


@query(
    "scalar_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                  AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_num,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
    FROM events
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column
    (``get_json_object`` ↔ DuckDB ``json_extract_string``)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_num"),
        (k.cast("bigint") % 10).alias("k_mod10"),
    )


@query(
    "scalar_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_variant,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS k_big
    FROM events
    """,
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data via the VARIANT type (Spark 4): parse the
    JSON string ONCE into a compact binary variant, then extract typed
    fields with ``variant_get`` — at scale this beats repeated
    ``get_json_object`` string parsing (one parse per row instead of
    one per extraction) and is the open-format answer to schemaless
    ingestion.  The oracle reads the same fields with DuckDB's JSON
    extraction — two engines, two encodings, same values."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    return v.select(
        "event_id",
        F.variant_get("pv", "$.k", "bigint").alias("k_variant"),
        (F.variant_get("pv", "$.k", "bigint") > 50).alias("k_big"),
    )


@query(
    "scalar_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255                      AS low_byte,
           event_id | 4096                     AS with_flag,
           xor(event_id, 1365)                 AS xored,
           CAST(event_id << 3 AS BIGINT)       AS shifted_l,
           CAST(event_id >> 2 AS BIGINT)       AS shifted_r,
           CAST(bit_count(event_id) AS INT)    AS popcount
    FROM events WHERE event_id < 2000
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family — AND/OR/XOR, shifts, popcount (the ops
    flag fields, bloom probes, and fingerprint arithmetic are built
    from; ``dedup_simhash`` uses the same primitives in anger).  All
    codegen'd JVM integer ops; narrow projection, zero shuffle."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    eid = F.col("event_id")
    return ev.select(
        "event_id",
        eid.bitwiseAND(F.lit(255)).alias("low_byte"),
        eid.bitwiseOR(F.lit(4096)).alias("with_flag"),
        eid.bitwiseXOR(F.lit(1365)).alias("xored"),
        F.expr("shiftleft(event_id, 3)").cast("bigint").alias("shifted_l"),
        F.expr("shiftright(event_id, 2)").cast("bigint").alias("shifted_r"),
        F.bit_count(eid).cast("int").alias("popcount"),
    )


@query(
    "scalar_binary_codecs",
    oracle="""
    SELECT doc_id,
           to_base64(CAST(text AS BLOB))        AS b64,
           md5(text)                            AS md5_hex,
           sha256(text)                         AS sha256_hex,
           hex(CAST(substr(text, 1, 4) AS BLOB)) AS head_hex,
           (decode(from_base64(to_base64(CAST(text AS BLOB)))) = text)
                                                AS roundtrip_ok
    FROM documents
    """,
)
def scalar_binary_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec scalar family: base64, MD5/SHA-256 digests, hex
    dump, and an in-plan decode roundtrip proof.  Engine gotcha pinned
    here: Spark's ``base64`` emits MIME-CHUNKED output (a CRLF every 76
    chars, java.util.Base64.getMimeEncoder) while DuckDB/RFC 4648
    produce one unbroken string — the canonical form requires stripping
    the line breaks, and anyone diffing digests-of-base64 across
    engines without knowing this gets phantom mismatches.  (``F.hex``
    after ``F.md5`` is a second trap — md5 already returns hex, hex()
    would re-encode the ASCII — avoided here.)  All narrow projections:
    zero shuffle, codegen'd digest loops."""
    docs = load_table(spark, sf_dir, "documents")
    tb = F.col("text").cast("binary")
    b64 = F.regexp_replace(F.base64(tb), "[\r\n]", "")
    return docs.select(
        "doc_id",
        b64.alias("b64"),
        F.md5(tb).alias("md5_hex"),
        F.sha2(tb, 256).alias("sha256_hex"),
        F.hex(F.substring("text", 1, 4).cast("binary")).alias("head_hex"),
        (F.decode(F.unbase64(b64), "UTF-8") == F.col("text")).alias("roundtrip_ok"),
    )


@query(
    "scalar_map_ops",
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_quantity) AS BIGINT)          AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_discount * 100) AS BIGINT)    AS disc_bp
      FROM lineitem WHERE l_orderkey < 200
    )
    SELECT l_orderkey, l_linenumber, k, v FROM (
      SELECT l_orderkey, l_linenumber, 'qty' AS k, 2 * qty AS v
      FROM base WHERE qty > 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'price_cents', 2 * price_cents
      FROM base WHERE price_cents > 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'disc_bp', 2 * disc_bp
      FROM base WHERE disc_bp > 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'linenum', CAST(l_linenumber AS BIGINT)
      FROM base
    )
    """,
)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAP-type scalar family — ``map_from_arrays`` construction,
    ``map_filter`` (drop zero-valued entries), ``transform_values``
    (lambda over values), ``map_concat`` (merge a computed entry), and
    ``explode`` back to relational (key, value) rows.  Maps are the
    idiomatic carrier for sparse per-row feature bags in training-data
    pipelines (per-doc signal dictionaries), and the lambda HOFs run
    JVM-side in codegen — no Python.

    DuckDB's MAP type hashes differently, so the differential contract
    is on the EXPLODED relational form: the oracle states the same
    entries as filtered UNION ALL branches — the dropped ``disc_bp = 0``
    entries prove ``map_filter`` really filtered, the doubling proves
    ``transform_values`` applied, the ``linenum`` entry proves
    ``map_concat`` merged.  Narrow projection off one scan, zero
    shuffle; the bounded ``l_orderkey < 200`` slice is pushed to the
    parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price_cents"), F.lit("disc_bp")),
        F.array(
            F.round("l_quantity").cast("bigint"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint"),
            F.round(F.col("l_discount") * 100).cast("bigint"),
        ),
    )
    scaled = F.transform_values(
        F.map_filter(m, lambda k, v: v > 0), lambda k, v: v * 2
    )
    full = F.map_concat(
        scaled,
        F.create_map(F.lit("linenum"), F.col("l_linenumber").cast("bigint")),
    )
    return li.select(
        "l_orderkey", "l_linenumber", F.explode(full).alias("k", "v")
    )


@query(
    "udtf_explode_outer",
    oracle="""
    SELECT doc_id,
           unnest(CASE WHEN len(a) = 0 THEN [CAST(NULL AS VARCHAR)]
                       ELSE a END) AS quword,
           CAST(len(a) AS INT) AS n_matches
    FROM (SELECT doc_id, regexp_extract_all(lower(text), 'qu[a-z]+') AS a
          FROM documents)
    """,
)
def udtf_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` — the LEFT-OUTER generator: documents whose
    pattern-match array is EMPTY (115 of 500 here for ``qu[a-z]+``)
    survive as a (doc_id, NULL) row instead of silently vanishing the
    way plain ``explode`` drops them.  The distinction is the classic
    fan-out bug in per-document feature extraction: inner-generate and
    every matchless document disappears from the corpus, skewing any
    downstream per-doc statistic.  DuckDB has no outer unnest, so the
    oracle states the semantics explicitly (empty → [NULL]) — which is
    precisely the definition being pinned.  Narrow projection, zero
    shuffle; ``n_matches`` disambiguates a true NULL match from an
    empty-array placeholder row."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.regexp_extract_all(F.lower("text"), F.lit("qu[a-z]+"), 0)
    return docs.select(
        "doc_id",
        F.size(arr).cast("int").alias("n_matches"),
        F.explode_outer(arr).alias("quword"),
    ).select("doc_id", "quword", "n_matches")


@query(
    "scalar_try_functions",
    oracle="""
    SELECT p_partkey,
           (p_size = 10) AS try_div_is_null,
           CASE WHEN p_size = 10 THEN NULL
                ELSE (CASE WHEN p_size > 10 THEN 1 ELSE -1 END)
                     * CAST((20000 * CAST(round(p_retailprice * 100) AS BIGINT)
                             + 100 * abs(p_size - 10))
                            // (200 * abs(p_size - 10)) AS BIGINT) END
               AS ratio_bp,
           TRY_CAST(CASE WHEN p_partkey % 2 = 0
                         THEN CAST(p_size AS VARCHAR)
                         ELSE p_name END AS INT) AS try_int,
           string_split(p_name, ' ')[5] AS try_fifth_word
    FROM part
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_``-function family — ANSI-mode error handling as
    VALUES instead of job-killing exceptions.  Spark 4 runs with
    ``spark.sql.ansi.enabled=true``, where ``/`` by zero,
    out-of-range casts, and out-of-bounds ``element_at`` all RAISE;
    the ``try_`` variants return NULL instead, which is the only
    sane behavior for a 100 TB batch job (one malformed row must not
    kill a 10-hour run — NULL now, quarantine via a
    ``dq_constraint_check``-style audit after).

    Pinned: ``try_divide`` (NULL exactly where the divisor hits 0 —
    compared as the NULL-mask boolean, while the ratio VALUE itself is
    re-derived in exact integer basis points with sign-split half-up
    rounding, because a rounded float quotient is the one divergence
    class the repo bans: Spark rounds the shortest decimal repr,
    DuckDB the binary double), ``try_cast`` over a mixed
    parse-able/junk string column, and ``try_element_at`` past the
    array end.  DuckDB's counterparts (CASE-guarded divide, TRY_CAST,
    bracket indexing that is NULL-on-OOB by definition) state the
    same semantics.  Narrow codegen projection, zero shuffle."""
    part = load_table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.col("p_size").cast("string")
    ).otherwise(F.col("p_name"))
    sign = F.when(F.col("p_size") > 10, 1).otherwise(-1)
    bp_mag = F.expr(
        "(20000 * CAST(round(p_retailprice * 100) AS BIGINT)"
        " + 100 * abs(p_size - 10)) div (200 * abs(p_size - 10))"
    )
    return part.select(
        "p_partkey",
        F.try_divide(F.col("p_retailprice"), (F.col("p_size") - 10).cast("double"))
        .isNull()
        .alias("try_div_is_null"),
        F.when(F.col("p_size") == 10, None)
        .otherwise((sign * bp_mag).cast("bigint"))
        .alias("ratio_bp"),
        mixed.try_cast("int").alias("try_int"),
        F.try_element_at(F.split("p_name", " "), F.lit(5)).alias(
            "try_fifth_word"
        ),
    )


@query(
    "scalar_collation",
    oracle="""
    SELECT count(CASE WHEN lower(p_type) = 'promo' THEN 1 END)
               AS n_type_promo_ci,
           count(CASE WHEN lower(substr(p_name, 1, 1)) = 'a' THEN 1 END)
               AS n_name_starts_a_ci,
           CAST(count(DISTINCT lower(p_brand)) AS BIGINT)
               AS n_distinct_brands_ci,
           count(*) AS n_total
    FROM part
    """,
)
def scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATION (new engine surface in Spark 4): comparisons,
    filters, and DISTINCT under ``UTF8_LCASE`` collation — the
    engine-native way to get case-insensitive semantics WITHOUT
    rewriting every predicate through ``lower()`` (collation-aware
    comparisons keep codegen, can use collation-aware statistics, and
    apply to joins/grouping keys uniformly).  The oracle states the
    semantics in portable ``lower()`` form — equality of the counts
    IS the definition of the collation being correct.

    One scan, one aggregate; collated comparisons stay JVM-side."""
    part = load_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_coll")
    return spark.sql(
        """
        SELECT count(CASE WHEN p_type COLLATE UTF8_LCASE = 'promo' THEN 1 END)
                   AS n_type_promo_ci,
               count(CASE WHEN substr(p_name, 1, 1) COLLATE UTF8_LCASE = 'a'
                          THEN 1 END)
                   AS n_name_starts_a_ci,
               count(DISTINCT p_brand COLLATE UTF8_LCASE)
                   AS n_distinct_brands_ci,
               count(*) AS n_total
        FROM part_coll
        """
    )


@query(
    "scalar_xml_roundtrip",
    oracle="""
    SELECT n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS regionkey_rt,
           upper(n_name)               AS name_rt_upper
    FROM nation
    """,
)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_xml`` / ``from_xml`` scalar codecs (Spark 4.0 — the XML
    siblings of to_json/from_json, completing the per-row
    structured-text codec family next to ``scalar_json`` and
    ``scalar_binary_codecs``): pack each nation row into an XML
    fragment, parse it back with an explicit schema, and project the
    recovered fields.  The oracle recomputes the EXPECTED values from
    the original columns — a value surviving the encode→decode loop
    must equal its source, which pins both directions at once without
    DuckDB needing any XML support.  Per-row expression work only
    (JVM-side StaxXmlParser) — scan-bound at any scale.  Reference
    heritage: none (SURVEY §2 charter extension, scalar family)."""
    nation = load_table(spark, sf_dir, "nation")
    packed = nation.select(
        "n_nationkey",
        "n_name",
        F.to_xml(F.struct("n_regionkey", "n_name")).alias("xml"),
    )
    unpacked = packed.select(
        "n_nationkey",
        "n_name",
        F.from_xml("xml", "n_regionkey bigint, n_name string").alias("s"),
    )
    return unpacked.select(
        "n_nationkey",
        "n_name",
        F.col("s.n_regionkey").cast("bigint").alias("regionkey_rt"),
        F.upper("s.n_name").alias("name_rt_upper"),
    )
