"""Scalar function families (SURVEY.md §2.8) — one composite query per
family, every function a built-in ``pyspark.sql.functions`` call (JVM-side,
whole-stage-codegen; no Python in the row path).

Oracle-parity notes are inline where the Spark and DuckDB dialects diverge
(dayofweek origin, pmod sign, regexp_replace global flag, len() width...).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kwery_spark.catalog import table
from kwery_spark.registry import register


@register(
    "fn_string",
    oracle="""
    SELECT
        c_custkey,
        lower(c_name) AS name_lower,
        upper(c_mktsegment) AS seg_upper,
        trim(concat('  ', c_name, ' ')) AS name_trimmed,
        substring(c_name, 1, 8) AS name_prefix,
        concat_ws('|', c_name, c_mktsegment) AS name_seg,
        CAST(length(c_name) AS INTEGER) AS name_len,
        lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
        rpad(c_mktsegment, 12, '.') AS seg_padded,
        replace(c_name, '#', '-') AS name_dashed,
        regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_devoweled,
        CAST(instr(c_name, '#') AS INTEGER) AS hash_pos,
        CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS seg_dist
    FROM customer
    WHERE c_custkey <= 500
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family. Dialect notes: DuckDB regexp_replace needs the 'g'
    flag to match Spark's replace-all; length/instr return BIGINT there →
    cast to INTEGER on the oracle side (Spark emits int)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("name_trimmed"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name_seg"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("seg_devoweled"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_dist"),
    )


@register(
    "fn_date",
    oracle="""
    SELECT
        o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS order_year,
        CAST(month(o_orderdate) AS INTEGER) AS order_month,
        CAST(day(o_orderdate) AS INTEGER) AS order_day,
        CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        CAST(o_orderdate AS DATE) + 30 AS due_date,
        CAST(o_orderdate AS DATE) - 7 AS week_before,
        CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
            AS days_since_epoch_start,
        last_day(CAST(o_orderdate AS DATE)) AS month_end,
        CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
        make_date(2024, CAST(month(o_orderdate) AS INTEGER), 1) AS anniversary
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family. Dialect notes: DuckDB dayofweek is 0=Sunday,
    Spark's is 1=Sunday → +1 on the oracle; DuckDB year()/datediff return
    BIGINT → cast; date±int arithmetic needs an explicit DATE cast there."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.dayofweek(d).alias("order_dow"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.date_sub(d.cast("date"), 7).alias("week_before"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.last_day(d.cast("date")).alias("month_end"),
        F.unix_timestamp(d).alias("order_epoch"),
        F.make_date(F.lit(2024), F.month(d), F.lit(1)).alias("anniversary"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        abs(l_extendedprice - 30000.0) AS price_dev,
        floor(l_quantity) AS qty_floor,
        ceil(l_discount * 100.0) AS disc_pct_ceil,
        sqrt(l_extendedprice) AS price_sqrt,
        pow(l_quantity, 2.0) AS qty_sq,
        ln(l_extendedprice) AS price_ln,
        log10(l_extendedprice) AS price_log10,
        CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS price_sign,
        greatest(l_quantity, l_discount * 100.0, 10.0) AS g3,
        least(l_quantity, l_discount * 100.0, 10.0) AS l3,
        CAST(((l_orderkey % 7) + 7) % 7 AS BIGINT) AS key_pmod
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. Dialect notes: Spark pmod() is always-positive — DuckDB
    % keeps the dividend sign, hence ((a%b)+b)%b on the oracle. floor/ceil
    return DOUBLE in both engines for double input."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 30000.0).alias("price_dev"),
        F.floor("l_quantity").cast("double").alias("qty_floor"),
        F.ceil(F.col("l_discount") * 100.0).cast("double").alias("disc_pct_ceil"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.pow("l_quantity", F.lit(2.0)).alias("qty_sq"),
        F.log(F.col("l_extendedprice")).alias("price_ln"),
        F.log10("l_extendedprice").alias("price_log10"),
        F.signum(F.col("l_extendedprice") - 30000.0).alias("price_sign"),
        F.greatest("l_quantity", F.col("l_discount") * 100.0, F.lit(10.0)).alias("g3"),
        F.least("l_quantity", F.col("l_discount") * 100.0, F.lit(10.0)).alias("l3"),
        F.pmod("l_orderkey", F.lit(7)).cast("long").alias("key_pmod"),
    )


@register(
    "fn_array",
    oracle="""
    SELECT
        doc_id,
        CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens,
        list_contains(str_split(text, ' '), 'data') AS has_data,
        array_to_string(list_sort(list_distinct(str_split(text, ' '))), '|') AS vocab,
        str_split(text, ' ')[1] AS first_token,
        array_to_string(list_slice(str_split(text, ' '), 1, 3), '|') AS first_three,
        array_to_string(list_transform(list_slice(str_split(text, ' '), 1, 3),
                                       t -> upper(t)), '|')
            AS first_three_upper,
        coalesce(array_to_string(list_filter(str_split(text, ' '), t -> len(t) > 5),
                                 '|'), '')
            AS long_tokens,
        CAST(list_sum(list_transform(str_split(text, ' '), t -> len(t))) AS BIGINT)
            AS total_token_chars,
        len(list_filter(str_split(text, ' '), t -> t = 'model')) > 0 AS has_model
    FROM documents
    WHERE doc_id <= 200
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family + higher-order functions (transform/filter/aggregate/
    exists) over tokenized document text. All JVM-side expressions — the
    100 TB-safe way to do per-row list work (no Python, no explode+rejoin).
    Array-valued results are array_join'ed to '|'-separated strings so the
    grading hasher (pandas factorize — lists are unhashable) gates values.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_join(F.array_sort(F.array_distinct(toks)), "|").alias("vocab"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(F.slice(toks, 1, 3), "|").alias("first_three"),
        F.array_join(
            F.transform(F.slice(toks, 1, 3), lambda t: F.upper(t)), "|"
        ).alias("first_three_upper"),
        F.array_join(F.filter(toks, lambda t: F.length(t) > 5), "|").alias("long_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
        F.exists(toks, lambda t: t == "model").alias("has_model"),
    )


@register(
    "fn_map",
    oracle="""
    SELECT
        c_custkey,
        'balance,nation,segment' AS meta_keys,
        concat_ws(',', CAST(c_acctbal AS VARCHAR), CAST(c_nationkey AS VARCHAR),
                  c_mktsegment)
            AS meta_values,
        c_mktsegment AS seg_from_map,
        CAST(3 AS INTEGER) AS map_size
    FROM customer
    WHERE c_custkey <= 300
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build a map from columns, then project keys/values back
    to CSV strings + scalars for hash stability (SURVEY §2.8: map output
    itself is not directly hash-comparable across engines, and the grading
    hasher can't factorize list cells).

    Note: map insertion order is preserved by both map_keys and map_values
    in Spark, so key/value strings line up positionally."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    meta = F.create_map(
        F.lit("balance"), F.col("c_acctbal").cast("string"),
        F.lit("nation"), F.col("c_nationkey").cast("string"),
        F.lit("segment"), F.col("c_mktsegment"),
    )
    return c.select(
        "c_custkey",
        F.array_join(F.map_keys(meta), ",").alias("meta_keys"),
        F.array_join(F.map_values(meta), ",").alias("meta_values"),
        F.element_at(meta, F.lit("segment")).alias("seg_from_map"),
        F.size(meta).alias("map_size"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT
        event_type,
        count(*) AS n_events,
        avg(CAST(props ->> 'k' AS INTEGER)) AS avg_k,
        max(CAST(props ->> 'k' AS INTEGER)) AS max_k,
        CAST(sum(CASE WHEN CAST(props ->> 'k' AS INTEGER) > 50 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high_k
    FROM events
    GROUP BY event_type
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: parse each props string ONCE into a Spark 4 VARIANT
    (binary semi-structured representation), then extract the typed field
    with variant_get. Fresh-JVM comparison at sf3 (probe exp_json,
    BASELINE.md "Retired probes", best-of-3 after warm-up): variant 0.572 s <
    get_json_object 0.606 < json_tuple 0.634 < from_json 0.705 —
    VARIANT is the fastest real
    JSON parse Spark offers (a regexp field-grab measured 0.268 s but is
    not a JSON parser — it mis-reads escaped/nested occurrences of the
    key, so it is not used). The residual vs DuckDB (~0.03 s at sf3) is
    JVM parse throughput vs yyjson, not plan shape; at cluster scale the
    parse fans out with the scan.

    Ingest-time encoding: when the catalog serves an optimized layout
    whose props column is ALREADY VariantType (parse-once-at-ingest,
    see catalog.optimize_layout), the per-query parse_json is skipped —
    variant_get extracts straight from the stored binary. The raw
    corpus (correctness gate, vanilla sessions) keeps the string column
    and the full per-query parse path. Measured fresh-JVM at sf3 (3M
    events): stored variant 0.234 s steady-state vs 0.572 s with the
    per-query parse (-59%); the residual is within ~0.1 s of the
    local-mode per-job floor. Spark 4.1's shredded-variant write
    (spark.sql.variant.writeShredding.enabled +
    pushVariantIntoScan) was ALSO measured and REJECTED: the shredded
    read path ran 0.37-0.43 s — slower than plain stored variant here,
    because the 5-field shred forces the non-vectorized variant
    reassembly reader while the plain binary column stays on the
    vectorized path. Re-measured at sf10 (r6, VERDICT item 5, fresh JVM
    per arm, probe exp_json, BASELINE.md "Retired probes"): stored variant
    0.328 s < shredded 0.478 s < string+get_json_object 1.79 s <
    string+from_json('k INT') 2.36 s — the rejection holds at a
    scan-dominated SF and the pruned-
    schema from_json arm is 7x off; representation knobs are exhausted.
    r7 closed the final arm: a fully PRE-EXTRACTED typed int column
    (props.k materialized at ingest, no variant involved) measured
    0.30-0.35 s at sf10 — IDENTICAL to stored-variant extraction.
    variant_get therefore contributes ~nothing at this SF; the residual
    ~4x vs DuckDB (0.055-0.068 s) is the scan+hash-agg machinery floor
    on a single box, which amortizes with executor count on a cluster.
    fn_json is CLOSED: no representation or extraction change can move
    it further.

    Parse parallelism: at bench SF the events file has 2 row groups, so
    the scan yields 2 input partitions and the parse runs nearly
    single-threaded. When the scan is under-split like this, fan the
    pruned (event_type, props) columns out over the cores BEFORE parsing
    — a ~2 MB shuffle buys a 16-way parse (measured 0.36 s → 0.28 s at
    sf0.1). At real scale the scan arrives already split (sf3: 25
    splits → rule leaves the plan untouched). The split count comes from
    the parquet footers (catalog.scan_splits) — metadata only, no RDD
    lineage instantiated at plan-build time."""
    from kwery_spark.catalog import scan_splits

    ev = table(spark, sf_dir, "events").select("event_type", "props")
    target = max(8, spark.sparkContext.defaultParallelism // 2)
    if scan_splits(spark, sf_dir, "events") < target // 2:
        ev = ev.repartition(target)
    already_variant = dict(ev.dtypes).get("props") == "variant"
    src = "props" if already_variant else "parse_json(props)"
    k = F.expr(f"variant_get({src}, '$.k', 'int')")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high_k"),
        )
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT
        o_orderkey,
        coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_defaulted,
        nullif(o_orderstatus, 'O') AS status_or_null,
        coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'unknown') AS priority_clean,
        isnan(CAST('NaN' AS DOUBLE)) AS nan_detected,
        CASE WHEN isnan(CAST('NaN' AS DOUBLE)) THEN o_totalprice
             ELSE CAST('NaN' AS DOUBLE) END AS nanvl_price,
        greatest(o_totalprice, 100000.0) AS price_floor_100k,
        least(o_totalprice, 400000.0) AS price_cap_400k
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/conditional family: coalesce, nullif, nvl (≡coalesce), nanvl,
    isnan, greatest/least."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    nan = F.lit(float("nan"))
    return o.select(
        "o_orderkey",
        F.nvl(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_defaulted"
        ),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")), F.lit("unknown")
        ).alias("priority_clean"),
        F.isnan(nan).alias("nan_detected"),
        F.nanvl(nan, F.col("o_totalprice")).alias("nanvl_price"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("price_floor_100k"),
        F.least("o_totalprice", F.lit(400000.0)).alias("price_cap_400k"),
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_totalprice > 400000.0) AS any_over_400k,
           CAST(sum(o_orderkey & 15) AS BIGINT) AS low_nibble_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise + boolean aggregate family: bit_and/bit_or/bit_xor over
    keys, bool_and/bool_or predicates, and a per-row mask (& 15) under a
    sum. All integer-exact, so the oracle compare is bitwise."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_over_400k"),
        F.sum(F.col("o_orderkey").bitwiseAND(F.lit(15))).alias("low_nibble_sum"),
    )


@register(
    "fn_struct",
    oracle="""
    SELECT c_custkey,
           CAST(to_json(struct_pack(id := CAST(c_custkey AS BIGINT),
                               segment := c_mktsegment,
                               nation := CAST(c_nationkey AS INTEGER)))
                AS VARCHAR) AS as_json,
           c_mktsegment AS seg_from_struct,
           CAST(c_nationkey AS INTEGER) AS nation_from_struct
    FROM customer
    WHERE c_custkey <= 300
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct family: build a nested struct from columns, read fields
    back, and serialize to JSON — the nested-record surface (§2.8).
    to_json output is byte-identical across engines for int/string
    fields (minified, insertion-ordered); doubles are kept OUT of the
    JSON payload deliberately — float-to-text formatting is the one
    place the engines' renderers may disagree."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    s = F.struct(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("int").alias("nation"),
    )
    return c.select(
        "c_custkey",
        F.to_json(s).alias("as_json"),
        s.getField("segment").alias("seg_from_struct"),
        s.getField("nation").alias("nation_from_struct"),
    )


@register(
    "fn_encode",
    oracle="""
    SELECT c_custkey,
           base64(c_name::BLOB) AS name_b64,
           hex(c_name) AS name_hex,
           CAST(from_base64(base64(c_name::BLOB)) AS VARCHAR) AS b64_roundtrip,
           CAST(unhex(hex(c_name)) AS VARCHAR) AS hex_roundtrip
    FROM customer
    WHERE c_custkey <= 300
    """,
)
def fn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-text encoding family: base64 and hex, encode + decode
    round-trips — the transport encodings every ETL boundary uses
    (payload columns in JSON, keys in URLs). ASCII names make the varchar
    and blob forms byte-identical across engines; the round-trip columns
    prove decode(encode(x)) == x under the value hash, not just that the
    functions run. Spark hex() uppercases — upper() applied so both
    engines emit the same casing."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    name_bin = F.col("c_name").cast("binary")
    return c.select(
        "c_custkey",
        F.base64(name_bin).alias("name_b64"),
        F.upper(F.hex(name_bin)).alias("name_hex"),
        F.unbase64(F.base64(name_bin)).cast("string").alias("b64_roundtrip"),
        F.unhex(F.hex(name_bin)).cast("string").alias("hex_roundtrip"),
    )


@register(
    "fn_url",
    oracle="""
    SELECT doc_id,
           source || '.example.com'                      AS host,
           '/' || lang || '/doc-' || doc_id              AS path,
           'page=' || (doc_id % 7) || '&ref=home'        AS query,
           CAST(doc_id % 7 AS VARCHAR)                   AS page_param,
           's-' || (n_chars % 5)                         AS fragment
    FROM documents
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family: assemble a URL from corpus columns, then
    recover every component with parse_url (HOST/PATH/QUERY, keyed query
    parameter, REF). The oracle reconstructs the components directly
    from the base columns, so the check is a true parse round-trip —
    Spark must get the parsing right, not just echo the input. Pure
    JVM-side expressions (parse_url is codegen'd), zero shuffles."""
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.lit("?page="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=home#s-"), (F.col("n_chars") % 5).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page_param"),
        F.parse_url(url, F.lit("REF")).alias("fragment"),
    )


@register(
    "fn_regex",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\w+)', 1)                 AS first_word,
           CAST(len(regexp_extract_all(p_name, '[aeiou]+'))
                AS INTEGER)                                    AS n_vowel_runs,
           regexp_replace(p_name, '[aeiou]', '', 'g')          AS consonants,
           regexp_matches(p_name, 'red|blue|green')            AS mentions_color,
           CAST(len(str_split(p_name, ' ')) AS INTEGER)        AS n_words
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function family over multi-word text (part.p_name):
    regexp_extract (first word), regexp_count (vowel runs),
    regexp_replace (global — DuckDB needs the explicit 'g' flag),
    rlike (alternation; NO backreferences anywhere so the RE2-based
    oracle engine agrees), plus a split-cardinality check. All
    codegen'd JVM expressions; one narrow projection, no shuffle."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_count("p_name", F.lit(r"[aeiou]+")).alias("n_vowel_runs"),
        F.regexp_replace("p_name", r"[aeiou]", "").alias("consonants"),
        F.col("p_name").rlike("red|blue|green").alias("mentions_color"),
        F.size(F.split("p_name", " ")).alias("n_words"),
    )


@register(
    "fn_datetime_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
                                                          AS plus_3_months,
           CAST(quarter(o_orderdate) AS INTEGER)          AS order_quarter,
           CAST(weekofyear(o_orderdate) AS INTEGER)       AS iso_week,
           CAST(dayofyear(o_orderdate) AS INTEGER)        AS day_of_year,
           greatest(CAST(o_orderdate AS DATE),
                    DATE '1996-06-15')                    AS clamped_date,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(o_orderdate AS DATE)
             - CAST(date_trunc('year', o_orderdate) AS DATE) AS days_into_year
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime arithmetic family: add_months (both engines clamp
    end-of-month the same way), quarter/ISO week/day-of-year extracts,
    date clamping, quarter truncation, and day offsets within the year.
    DuckDB date-date subtraction yields BIGINT days; Spark datediff
    matches it as an int → cast. All codegen'd, shuffle-free."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3_months"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofyear("o_orderdate").alias("day_of_year"),
        F.greatest(d, F.lit("1996-06-15").cast("date")).alias("clamped_date"),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter_start"),
        F.datediff(d, F.date_trunc("year", "o_orderdate").cast("date"))
        .cast("long")
        .alias("days_into_year"),
    )


@register(
    "fn_variant",
    oracle="""
    SELECT
        event_type,
        CAST(count(*) AS BIGINT) AS n_events,
        avg(CAST(props ->> 'k' AS INTEGER)) AS avg_k,
        CAST(max(CAST(props ->> 'k' AS INTEGER)) AS BIGINT) AS max_k,
        CAST(sum(CASE WHEN (props ->> 'zzz') IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_no_path
    FROM events
    GROUP BY event_type
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT family: parse_json -> open-schema VariantType,
    typed extraction with variant_get, and missing-path semantics with
    try_variant_get. Variant is the modern ingest shape for
    semi-structured data at scale — parse once into a binary-encoded
    value, then extract fields without re-parsing and WITHOUT declaring
    a schema up front (vs from_json's fixed struct in fn_json; both
    paths are now covered).

    Scale: parse + extraction are JVM-side expressions inside codegen;
    the aggregate shuffles 5 groups. The oracle mirrors through
    DuckDB's JSON operators (missing path -> NULL matches
    try_variant_get)."""
    ev = table(spark, sf_dir, "events").select("event_type", "props")
    # optimized layouts may already store props as VARIANT (ingest-time
    # parse, catalog.optimize_layout); raw corpus is a JSON string
    v = (
        F.col("props")
        if dict(ev.dtypes).get("props") == "variant"
        else F.parse_json(F.col("props"))
    )
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.zzz", "string").alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("k").alias("avg_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum(F.when(F.col("missing").isNull(), 1).otherwise(0)).alias(
                "n_no_path"
            ),
        )
    )


@register(
    "fn_edit_distance",
    oracle="""
    SELECT CAST(levenshtein(p_name, 'small ring') AS INTEGER) AS dist,
           CAST(count(*) AS BIGINT) AS n_parts,
           min(p_name) AS example
    FROM part
    GROUP BY dist
    ORDER BY dist
    """,
)
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-distance family: Levenshtein edit distance of every part
    name to a probe string, reported as a distance histogram with an
    example per bucket. Both engines implement unit-cost Levenshtein
    (insert/delete/substitute = 1), so the integers match exactly.

    Scale: the distance is a map-side scalar expression; the histogram
    groups on a small integer key. This is the expression primitive the
    fuzzy-matching operator (dedup_fuzzy_names) builds on."""
    p = table(spark, sf_dir, "part")
    return (
        p.select(F.levenshtein("p_name", F.lit("small ring")).alias("dist"), "p_name")
        .groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_name").alias("example"),
        )
        .coalesce(1)
        .sortWithinPartitions("dist")
    )


@register(
    "fn_format",
    oracle="""
    SELECT o_orderkey,
           printf('%.2f', o_totalprice) AS price_2dp,
           printf('%08d', o_orderkey) AS key_padded,
           printf('%x', o_orderkey) AS key_hex,
           printf('order %d: %s', o_orderkey, o_orderstatus) AS summary,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS order_month,
           concat(upper(substring(o_orderpriority, 1, 1)),
                  lower(substring(o_orderpriority, 2, length(o_orderpriority) - 1)))
               AS priority_title
    FROM orders
    WHERE o_orderkey <= 1000
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family: printf-style numeric/hex/padded
    rendering (format_string, the JVM printf), date-pattern formatting
    and manual title-casing. Dialect notes: Spark format_string is Java
    printf, DuckDB printf is C printf — %.2f/%08d/%x/%d/%s behave
    identically for these types; DuckDB strftime('%Y-%m') == Spark
    date_format('yyyy-MM'); initcap is avoided because the two engines
    disagree on non-letter word boundaries, manual first-letter casing
    is exact."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.format_string("%.2f", "o_totalprice").alias("price_2dp"),
        F.format_string("%08d", "o_orderkey").alias("key_padded"),
        F.expr("format_string('%x', o_orderkey)").alias("key_hex"),
        F.format_string("order %d: %s", "o_orderkey", "o_orderstatus").alias(
            "summary"
        ),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.concat(
            F.upper(F.substring("o_orderpriority", 1, 1)),
            F.lower(
                F.expr(
                    "substring(o_orderpriority, 2, length(o_orderpriority) - 1)"
                )
            ),
        ).alias("priority_title"),
    )


@register(
    "fn_try_safe",
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_totalprice / (o_orderkey % 7) END, 6)
               AS safe_div,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
               AS prio_digit,
           TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
           CASE WHEN length(o_orderpriority) >= 9
                THEN substring(o_orderpriority, 9, 1) ELSE NULL END
               AS char9,
           coalesce(TRY_CAST(substring(CAST(o_orderkey AS VARCHAR), 1, 2)
                             AS BIGINT), -1) AS first2_digits
    FROM orders
    WHERE o_orderkey <= 2000
    ORDER BY o_orderkey
    """,
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe (TRY_*) function family — ANSI-mode Spark turns
    div-by-zero and bad casts into runtime errors, so production
    pipelines reach for the null-on-error forms: try_divide,
    try_cast (succeeding and failing arms), safe out-of-bounds
    substring access, and a coalesce'd fallback — each mirrored by
    DuckDB's TRY_CAST / guarded CASE.

    Exactness: the only float op is one division of exacts, rounded
    6dp; everything else is integer/string.

    Scale: pure map-side projection over a pruned, predicate-pushed
    scan — nothing shuffles but the cosmetic final sort."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return (
        o.select(
            "o_orderkey",
            F.round(
                F.expr("try_divide(o_totalprice, o_orderkey % 7)"), 6
            ).alias("safe_div"),
            F.expr(
                "try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"
            ).alias("prio_digit"),
            F.expr("try_cast(o_orderstatus AS BIGINT)").alias("status_num"),
            F.expr(
                "CASE WHEN length(o_orderpriority) >= 9"
                " THEN substring(o_orderpriority, 9, 1) ELSE NULL END"
            ).alias("char9"),
            F.coalesce(
                F.expr(
                    "try_cast(substring(CAST(o_orderkey AS STRING), 1, 2)"
                    " AS BIGINT)"
                ),
                F.lit(-1),
            ).alias("first2_digits"),
        )
        .coalesce(1)
        .sortWithinPartitions("o_orderkey")
    )
