"""Scalar function operators: string / date / math (SURVEY.md §2.8).

All expressions are built-in `pyspark.sql.functions` — JVM-side inside
whole-stage codegen, no Python workers.  Transcendental results
(ln/exp/pow) are rounded to 6 places per the determinism contract;
integer and string functions are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import (
    dot_f,
    money_sum,
    o_dot,
    sim_round,
)
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load


@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           substring(p_name, 1, 8) AS name_prefix,
           upper(p_brand) AS brand_upper,
           lower(p_type) AS type_lower,
           CAST(length(p_name) AS INT) AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           p_brand || '-' || p_type AS brand_type,
           string_split(p_name, ' ')[1] AS first_token,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           trim(' ' || p_type || ' ') AS type_trimmed
    FROM part
    """,
    tier="P0",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        # concat (not concat_ws): '||' in the oracle propagates NULL.
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_token"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.trim(F.concat(F.lit(" "), F.col("p_type"), F.lit(" "))).alias("type_trimmed"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
               AS days_since_epoch_start,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
    FROM orders
    """,
    tier="P0",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        # Both sides cast to DATE explicitly: Spark datediff truncates
        # timestamps to dates, DuckDB date_diff on timestamps does not —
        # identical semantics only when both operate on DATE.
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_epoch_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.unix_timestamp(F.col("o_orderdate")).alias("unix_sec"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS price_r2,
           abs(l_extendedprice - 50000.0) AS price_dev,
           CAST(ceil(l_quantity * 1.5) AS BIGINT) AS qty_ceil,
           CAST(floor(l_quantity * 1.5) AS BIGINT) AS qty_floor,
           l_orderkey % 7 AS key_mod7,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(exp(l_discount), 6) AS disc_exp,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS price_sqrt
    FROM lineitem
    WHERE l_orderkey <= 2000
    """,
    tier="P0",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price_r2"),
        F.abs(F.col("l_extendedprice") - 50000.0).alias("price_dev"),
        F.ceil(F.col("l_quantity") * 1.5).alias("qty_ceil"),
        F.floor(F.col("l_quantity") * 1.5).alias("qty_floor"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.exp(F.col("l_discount")), 6).alias("disc_exp"),
        F.round(F.pow(F.col("l_quantity"), 2), 6).alias("qty_sq"),
        F.round(F.sqrt(F.col("l_extendedprice")), 6).alias("price_sqrt"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS INT) AS min_k,
           CAST(MAX(k) AS INT) AS max_k,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    GROUP BY event_type
    """,
    tier="P1",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from events.props (JSON-in-VARCHAR):
    extract $.k, cast to INT, aggregate per event_type — the day-one
    telemetry query shape (SURVEY.md:262).

    get_json_object is a JVM-side path expression (Jackson inside
    codegen) — no Python, and at 100 TB the extraction cost is a flat
    per-row scan expense with the aggregation still partial+final.
    """
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).cast("bigint").alias("n_large"),
        )
    )


@query(
    "fn_array",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round({o_dot('embedding', 'embedding')}, 6) AS norm_sq,
           round(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS min_val,
           round(list_sum(list_transform(list_slice(embedding, 1, 8),
                                         x -> CAST(x AS DOUBLE))), 6) AS head_sum
    FROM embeddings
    """,
    tier="P1",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: size,
    element access, filter, transform+aggregate, sort, slice — all
    JVM-side lambda expressions inside whole-stage codegen (the explode
    path is exercised by text_tokenize_tf).

    Float elements are cast to DOUBLE before arithmetic and rounded to
    6 places (determinism contract §5.3 rule 2).
    """
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(e).alias("dim"),
        sim_round(F.element_at(e, 1)).alias("first_val"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        sim_round(dot_f(e, e)).alias("norm_sq"),
        sim_round(F.element_at(F.sort_array(e), 1)).alias("min_val"),
        sim_round(
            F.aggregate(F.slice(e, 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double"))
        ).alias("head_sum"),
    )


@query(
    "fn_map_struct",
    oracle="""
    SELECT o_orderkey,
           struct_extract(struct_pack(key := o_orderkey, price := o_totalprice),
                          'price') AS struct_price,
           map_extract(map(['status', 'priority'],
                           [o_orderstatus, o_orderpriority]), 'status')[1]
               AS map_status,
           map_extract(map(['status', 'priority'],
                           [o_orderstatus, o_orderpriority]), 'priority')[1]
               AS map_priority
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    tier="P2",
)
def fn_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build map/struct values from columns and extract scalars back.

    The comparison surface is scalar columns only — nested values are
    built and immediately field-extracted, because the two engines
    render nested types differently in their fetch paths.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    s = F.struct(F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price"))
    return orders.select(
        "o_orderkey",
        s.getField("price").alias("struct_price"),
        m.getItem("status").alias("map_status"),
        m.getItem("priority").alias("map_priority"),
    )


@query(
    "fn_try_safe",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS n_parsed,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.missing') AS INT))
                AS BIGINT) AS n_missing_parsed,
           CAST(SUM(CASE WHEN value = 0 THEN NULL ELSE value END) IS NOT NULL
                AS BOOLEAN) AS has_nonzero,
           round(CAST(SUM(CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
                              AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INT)),
                 6) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tier="P2",
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling on dirty data: TRY_CAST parses the JSON
    property (NULL on absent/garbage, never a job abort), counts track
    parse coverage, and the average divides decimal-exact sums by the
    PARSED count only.

    At 100 TB a single malformed record must never kill a 10-hour job:
    try_* expressions turn per-row failures into NULLs that aggregate
    semantics already handle.  The '$.missing' probe pins the
    all-NULL path (COUNT=0) on both engines.
    """
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    k_missing = F.get_json_object("props", "$.missing").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(k).alias("n_parsed"),
        F.count(k_missing).alias("n_missing_parsed"),
        F.sum(F.when(F.col("value") == 0, None).otherwise(F.col("value")))
        .isNotNull()
        .alias("has_nonzero"),
        F.round(money_sum(k) / F.count(k), 6).alias("avg_k"),
    )


@query(
    "fn_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS max_k
    FROM events
    GROUP BY event_type
    """,
    tier="P2",
)
def fn_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4):
    parse_json once into a binary-encoded variant, then typed
    variant_get path extraction — the modern replacement for repeated
    get_json_object string re-parsing.

    At 100 TB the difference is decode cost: a variant column parses
    each JSON document ONCE (and with a variant-typed parquet column,
    zero times at query time, with shredded path pushdown), where
    N get_json_object calls re-parse the string N times per row.  The
    oracle extracts the same paths with DuckDB's JSON functions —
    value-identical, engine-appropriate encodings on each side.
    """
    ev = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("int").alias("max_k"),
    )


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://' || regexp_replace(source, '[^a-z0-9-]', '-', 'g')
               || '.example.org/' || lang || '/doc-'
               || CAST(doc_id % 50 AS VARCHAR) || '?session='
               || CAST(doc_id AS VARCHAR) || '&ref=mail' AS url
        FROM documents
    )
    SELECT doc_id,
           url,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+([^?#]*)', 1) AS path,
           CAST(regexp_extract(url, 'session=([0-9]+)', 1) AS BIGINT) AS session_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1)
           || regexp_extract(url, '^[a-z]+://[^/]+([^?#]*)', 1) AS canonical_url
    FROM u
    """,
    tier="P2",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition and canonicalization via parse_url — the
    web-corpus normalization step (CommonCrawl-style pipelines dedup on
    scheme-stripped host+path after dropping tracking query params).

    The fixture tables carry no URL column, so a deterministic URL is
    constructed per document from (source, lang, doc_id) and then
    parsed back with Spark's parse_url(HOST/PATH/QUERY) — the operator
    under test is the parser/canonicalizer, which the DuckDB oracle
    mirrors with equivalent regexes.  Row-local string work: map-only,
    codegen, no shuffle at any scale; downstream exact dedup on
    canonical_url is `dedup_exact` on this column.
    """
    docs = load(spark, sf_dir, "documents")
    # Sanitize the synthesized host label to [a-z0-9-]: java.net.URI
    # host rules make parse_url return NULL host for e.g. '_' while the
    # oracle regex would still match — a latent divergence if fixture
    # source values ever change (they are clean today).
    url = F.concat(
        F.lit("https://"),
        F.regexp_replace(F.col("source"), "[^a-z0-9-]", "-"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?session="),
        F.col("doc_id").cast("string"),
        F.lit("&ref=mail"),
    )
    parsed = docs.select("doc_id", url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    return parsed.select(
        "doc_id",
        "url",
        host.alias("host"),
        path.alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("session"))
        .cast("bigint")
        .alias("session_id"),
        F.concat(host, path).alias("canonical_url"),
    )


_CI_KEYWORD = "spark"


@query(
    "fn_collation_ci",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE contains(lower(text), '{_CI_KEYWORD}')
    """,
    tier="P2",
)
def fn_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 collations): keyword match
    against a MIXED-CASE rendering of the text under the UTF8_LCASE
    collation — the engine-level case-insensitivity that replaces
    scattering lower() over every predicate (and, unlike lower(),
    composes with equality joins, GROUP BY, and range comparisons on
    collated columns).

    The text is initcap'd first so the collation genuinely does work
    (the fixture corpus is already lowercase); the oracle expresses
    the same predicate as contains(lower(text), kw), equivalent
    because lower(initcap(x)) = lower(x) for ASCII.  Output columns
    are the original (binary-collation) ones, so no
    collation-representative value enters the hashed result.
    Row-local string predicate: map-only, pushdown-friendly, no
    shuffle at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    mixed = F.initcap(F.col("text"))
    hit = F.contains(
        F.collate(mixed, "UTF8_LCASE"), F.lit(_CI_KEYWORD)
    )
    return docs.filter(hit).select("doc_id", "lang", "source", "n_chars")


@query(
    "fn_date_extended",
    oracle="""
    WITH d AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
    )
    SELECT o_orderkey,
           od,
           CAST(od + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
           last_day(od) AS month_end,
           CAST(dayofweek(od) + 1 AS INT) AS dow,
           CAST(quarter(od) AS INT) AS qtr,
           CAST(dayofyear(od) AS INT) AS doy,
           CAST(date_trunc('quarter', od) AS DATE) AS qtr_start
    FROM d
    """,
    tier="P2",
)
def fn_date_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended calendar function surface beyond fn_date: add_months
    (month-end-clamped), last_day, day-of-week, quarter, day-of-year,
    and quarter truncation — all on the DATE-cast order date (both
    engines cast to DATE first: Spark's calendar fns return DATE while
    DuckDB's interval math on raw timestamps returns TIMESTAMP).

    Cross-engine trap handled: Spark's dayofweek is 1=Sunday..7 while
    DuckDB's is 0=Sunday..6, so the oracle adds 1; add_months and
    DuckDB's +INTERVAL MONTH share month-end clamping semantics, and
    the rest are identical integer calendar math.  Map-only, codegen,
    no shuffle at any scale.
    """
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("od"),
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        F.dayofweek(d).alias("dow"),
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.trunc(d, "quarter").alias("qtr_start"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_partkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(l_partkey) AS BIGINT) AS key_bit_or,
           CAST(bit_xor(l_partkey) AS BIGINT) AS key_bit_xor,
           CAST(SUM(l_orderkey & 255) AS BIGINT) AS sum_low_byte,
           CAST(SUM(xor(l_orderkey, l_partkey) % 1024) AS BIGINT)
               AS sum_xor_mod,
           CAST(SUM(CAST(l_linenumber AS BIGINT) << 2) AS BIGINT)
               AS sum_shifted
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tier="P2",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: bit_and/bit_or/bit_xor aggregates plus
    scalar AND / XOR / shift arithmetic — the key-packing and
    flag-mask toolkit (partition ids, bloom-filter words, composite
    key encoding all reduce to these).

    Exact integer ops on both engines — no rounding anywhere; sums
    accumulate in BIGINT (scalar results are < 2^32, counts bounded
    by fixture size, so no overflow at any fixture scale; 100 TB
    sums of masked bytes still fit int64 up to ~7e16 rows).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_partkey").cast("bigint").alias("key_bit_and"),
        F.bit_or("l_partkey").cast("bigint").alias("key_bit_or"),
        F.bit_xor("l_partkey").cast("bigint").alias("key_bit_xor"),
        F.sum(F.col("l_orderkey").bitwiseAND(F.lit(255)))
        .cast("bigint")
        .alias("sum_low_byte"),
        F.sum(F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")) % 1024)
        .cast("bigint")
        .alias("sum_xor_mod"),
        F.sum(F.shiftleft(F.col("l_linenumber").cast("bigint"), 2))
        .cast("bigint")
        .alias("sum_shifted"),
    )
