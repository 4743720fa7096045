"""Scalar-function surface queries (SURVEY.md §2.8 table stakes plus the
JSON/event-props functions a pipeline over semi-structured events needs).

Cross-engine float discipline: only operations with IEEE-754-exact or
integer semantics are compared bit-for-bit (abs/round/floor/ceil/mod/
sqrt/exact division); transcendentals (exp/log/pow) are deliberately
excluded from value-hashed oracles — their last bit is
implementation-defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table


# ---------------------------------------------------------------------------
# func_json_extract — JSON path extraction over the events props column.
# ---------------------------------------------------------------------------
def func_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.when(F.get_json_object("props", "$.missing").isNull(), F.lit("absent"))
        .otherwise(F.lit("present"))
        .alias("missing_probe"),
    )


register(
    "func_json_extract",
    func_json_extract,
    """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       CASE WHEN json_extract_string(props, '$.missing') IS NULL
            THEN 'absent' ELSE 'present' END AS missing_probe
FROM events
""",
)


# ---------------------------------------------------------------------------
# func_string — string function battery over customer/part.
# ---------------------------------------------------------------------------
def func_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.lower("c_mktsegment").alias("lower_seg"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_digits"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias("trimmed"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_head"),
    )


register(
    "func_string",
    func_string,
    """
SELECT c_custkey,
       upper(c_name) AS upper_name,
       lower(c_mktsegment) AS lower_seg,
       CAST(length(c_name) AS BIGINT) AS name_len,
       substr(c_name, 1, 8) AS name_prefix,
       concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
       coalesce(regexp_extract(c_name, '(\\d+)', 1), '') AS name_digits,
       trim(concat('  ', c_mktsegment, '  ')) AS trimmed,
       reverse(c_mktsegment) AS seg_rev,
       string_split(c_name, '#')[1] AS name_head
FROM customer
""",
)


# ---------------------------------------------------------------------------
# func_math — exact math battery (abs/round/floor/ceil/mod/sqrt/sign,
# greatest/least, conditional nulls).
# ---------------------------------------------------------------------------
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
        F.round(F.col("l_extendedprice") / 1000, 2).alias("price_k"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("tax_or_null"),
        F.coalesce(F.nullif(F.col("l_tax"), F.lit(0.0)), F.lit(-1.0)).alias("tax_coalesced"),
    )


register(
    "func_math",
    func_math,
    """
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS abs_dev,
       round(l_extendedprice / 1000, 2) AS price_k,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
       sqrt(l_quantity) AS qty_sqrt,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate,
       nullif(l_tax, 0.0) AS tax_or_null,
       coalesce(nullif(l_tax, 0.0), -1.0) AS tax_coalesced
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
)


# ---------------------------------------------------------------------------
# func_datetime — timestamp decomposition/arithmetic battery over orders.
# ---------------------------------------------------------------------------
def func_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.hour("o_orderdate").cast("long").alias("h"),
        F.dayofweek("o_orderdate").cast("long").alias("dow_1sun"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd").alias("plus30"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym_str"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


register(
    "func_datetime",
    func_datetime,
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(day(o_orderdate) AS BIGINT) AS d,
       CAST(hour(o_orderdate) AS BIGINT) AS h,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_1sun,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       date_trunc('month', o_orderdate) AS month_start,
       strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k,
       strftime(o_orderdate, '%Y-%m') AS ym_str,
       CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s
FROM orders
WHERE o_orderkey % 50 = 0
""",
)


# ---------------------------------------------------------------------------
# agg_cube + approx_distinct — grouping-sets surface; approx_count_distinct
# is declared WITHOUT an oracle (HLL sketches are engine-specific — the
# driver records a rows-only check, which is the honest claim).
# ---------------------------------------------------------------------------
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total_spend"),
        )
    )


register(
    "agg_cube",
    agg_cube,
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)


_APPROX_RSD = 0.02


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch with a bounded-error contract the oracle CAN check:
    the approx value itself is engine-specific (DuckDB can't replay
    Spark's sketch), so the query emits the exact distinct count plus a
    ``within_tolerance`` boolean — |approx − exact| / exact ≤ 3·rsd, the
    sketch's published error bound — computed engine-side. The oracle
    asserts the exact counts and that the bound holds (TRUE column)."""
    orders = read_table(spark, sf_dir, "orders")
    out = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=_APPROX_RSD).alias("approx"),
        F.countDistinct("o_custkey").alias("n_exact"),
    )
    tol = F.abs(F.col("approx") - F.col("n_exact")) / F.col("n_exact") <= 3 * _APPROX_RSD
    return out.select("o_orderstatus", "n_exact", tol.alias("within_tolerance"))


# ---------------------------------------------------------------------------
# grouped_map_normalize — the grouped-map leg of the pandas-UDF surface
# (groupBy().applyInPandas): per-user min-max normalization in integer
# cents; one pandas frame per user group, exact-int statistics, a single
# IEEE division — bit-identical to the window-function oracle.
# ---------------------------------------------------------------------------
def grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.grouped import minmax_normalize

    return minmax_normalize(read_table(spark, sf_dir, "events"))


register(
    "grouped_map_normalize",
    grouped_map_normalize,
    """
WITH c AS (
  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
),
stats AS (
  SELECT event_id, user_id, value_cents,
         min(value_cents) OVER (PARTITION BY user_id) AS mn,
         max(value_cents) OVER (PARTITION BY user_id) AS mx
  FROM c
)
SELECT event_id, user_id, value_cents,
       CAST(value_cents - mn AS DOUBLE)
         / (CASE WHEN mx = mn THEN 1 ELSE mx - mn END) AS norm_value
FROM stats
""",
)


def minmax_normalize_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM window-function twin of grouped_map_normalize (the recommended
    production path — no Arrow round-trip); parity-tested identical to the
    grouped-map version in tests/test_operators.py."""
    from cyrela_etl_spark.operators.grouped import minmax_normalize_window as mmw

    return mmw(read_table(spark, sf_dir, "events"))


register(
    "minmax_normalize_window",
    minmax_normalize_window,
    """
WITH c AS (
  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
),
stats AS (
  SELECT event_id, user_id, value_cents,
         min(value_cents) OVER (PARTITION BY user_id) AS mn,
         max(value_cents) OVER (PARTITION BY user_id) AS mx
  FROM c
)
SELECT event_id, user_id, value_cents,
       CAST(value_cents - mn AS DOUBLE)
         / (CASE WHEN mx = mn THEN 1 ELSE mx - mn END) AS norm_value
FROM stats
""",
)


register(
    "agg_approx_distinct",
    agg_approx_distinct,
    """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_exact,
       TRUE AS within_tolerance
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# func_arrays — the array-function surface over a grouped collect: sorted
# collect_list (sorting makes the aggregation order-insensitive, hence
# deterministic), size/element_at/array_max/contains/slice/concat_ws.
# ---------------------------------------------------------------------------
def func_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    arr = F.array_sort(F.collect_list(F.col("l_linenumber").cast("long")))
    out = li.groupBy("l_orderkey").agg(arr.alias("lines"))
    return out.select(
        "l_orderkey",
        F.size("lines").cast("long").alias("n_lines"),
        F.element_at("lines", 1).alias("first_line"),
        F.array_max("lines").alias("max_line"),
        F.array_contains("lines", F.lit(3)).alias("has_line3"),
        F.concat_ws(",", F.slice("lines", 1, 2).cast("array<string>")).alias("head2"),
    )


register(
    "func_arrays",
    func_arrays,
    """
WITH g AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_linenumber AS BIGINT))) AS lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(lines) AS BIGINT) AS n_lines,
       lines[1] AS first_line,
       list_max(lines) AS max_line,
       list_contains(lines, 3) AS has_line3,
       array_to_string(lines[1:2], ',') AS head2
FROM g
""",
)


# ---------------------------------------------------------------------------
# agg_approx_percentile — the quantile sketch with a bounded-RANK oracle:
# the sketch value is engine-specific, but its rank error is bounded by
# n/accuracy (Greenwald-Khanna contract), so the query re-ranks its own
# output against the data (one extra broadcast join) and emits a
# within_tolerance boolean the oracle can assert as TRUE.
# ---------------------------------------------------------------------------
_PCT_ACCURACY = 1000


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    sk = orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, _PCT_ACCURACY).alias("approx_med"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ranked = (
        orders.join(F.broadcast(sk), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.first("n_orders").alias("n_orders"),
            (
                F.sum(F.when(F.col("o_totalprice") <= F.col("approx_med"), 1).otherwise(0))
                / F.first("n_orders")
            ).alias("frac_le"),
        )
    )
    # rank-error bound: sketch rank error ≤ n/accuracy (→ 1/accuracy as a
    # fraction) plus up to 2/n of discreteness (the lower-median element's
    # own rank overshoots 0.5 by ≤ 1/n, ties add more at tiny n).
    margin = F.lit(1.0 / _PCT_ACCURACY) + 2.0 / F.col("n_orders")
    within = (F.col("frac_le") >= 0.5 - margin) & (F.col("frac_le") <= 0.5 + margin)
    return ranked.select("o_orderstatus", "n_orders", within.alias("within_tolerance"))


register(
    "agg_approx_percentile",
    agg_approx_percentile,
    """
SELECT o_orderstatus, count(*) AS n_orders, TRUE AS within_tolerance
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# agg_filtered — the FILTER-clause aggregate battery (per-predicate partial
# aggregation in ONE pass — the idiomatic replacement for N self-joins or
# N scans with different WHEREs).
# ---------------------------------------------------------------------------
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    open_ = F.col("o_orderstatus") == "O"
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(urgent, 1)).alias("n_urgent"),
        F.sum(F.when(urgent, F.col("o_totalprice").cast("decimal(12,2)")))
        .cast("double")
        .alias("urgent_price"),
        F.max(F.when(open_ & urgent, F.col("o_orderdate"))).alias("last_open_urgent"),
    )


register(
    "agg_filtered",
    agg_filtered,
    """
SELECT o_orderstatus,
       count(*) AS n_total,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_price,
       max(o_orderdate) FILTER (WHERE o_orderstatus = 'O'
                                AND o_orderpriority = '1-URGENT') AS last_open_urgent
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# func_hof — the higher-order-function battery over array columns
# (transform/filter/exists/forall/aggregate/slice on per-order quantity
# arrays): the §2.8 surface that keeps per-row collection logic JVM-side
# instead of exploding + re-aggregating or dropping to Python. All
# outputs are exact ints, so the value hash is engine-stable.
# ---------------------------------------------------------------------------
def func_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("long"))).alias("qtys")
    )
    a = F.col("qtys")
    return arrs.select(
        "l_orderkey",
        F.size(a).cast("long").alias("n_items"),
        F.aggregate(
            F.transform(a, lambda x: x * 2), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("doubled_sum"),
        F.size(F.filter(a, lambda x: x > 25)).cast("long").alias("n_big"),
        F.exists(a, lambda x: x == 48).alias("has_48"),
        F.forall(a, lambda x: x > 0).alias("all_positive"),
        F.concat_ws(",", F.transform(F.slice(a, 1, 3), lambda x: x.cast("string"))).alias("smallest3"),
    )


register(
    "func_hof",
    func_hof,
    """
WITH arrs AS (
  SELECT l_orderkey, list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT)) AS qtys
  FROM lineitem WHERE l_orderkey % 20 = 0
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qtys) AS BIGINT) AS n_items,
       CAST(list_sum(list_transform(qtys, x -> x * 2)) AS BIGINT) AS doubled_sum,
       CAST(len(list_filter(qtys, x -> x > 25)) AS BIGINT) AS n_big,
       list_contains(qtys, 48) AS has_48,
       len(list_filter(qtys, x -> x <= 0)) = 0 AS all_positive,
       array_to_string(qtys[1:3], ',') AS smallest3
FROM arrs
""",
)


# ---------------------------------------------------------------------------
# func_bitwise — the bitwise scalar + aggregate surface (&, |, xor, <<,
# bit_count scalars; bit_or / bit_and / bit_xor aggregates) over order
# keys, grouped by status. All pure int64 arithmetic — bit-identical by
# construction on any engine. The building blocks behind the engine's
# Bloom bitmap (scale_bloom_prefilter) and XOR table checksum
# (storage_integrity_checksum), surfaced here as a declared battery in
# their own right. The shifted-OR term masks the key to 6 bits before
# shifting, so it can't overflow. One hash agg, status-sized output.
# ---------------------------------------------------------------------------
def func_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("bit_or(o_orderkey & 4095)").cast("long").alias("or_low12"),
        F.expr("bit_and(o_orderkey | 4095)").cast("long").alias("and_high"),
        F.expr("bit_xor(o_orderkey)").cast("long").alias("xor_all"),
        F.sum(F.bit_count("o_orderkey").cast("long")).cast("long").alias("total_bits"),
        F.expr("bit_or(shiftleft(o_orderkey & 63, 8))").cast("long").alias("or_shifted"),
    )


register(
    "func_bitwise",
    func_bitwise,
    """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(bit_or(o_orderkey & 4095) AS BIGINT) AS or_low12,
       CAST(bit_and(o_orderkey | 4095) AS BIGINT) AS and_high,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_all,
       CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS total_bits,
       CAST(bit_or((o_orderkey & 63) << 8) AS BIGINT) AS or_shifted
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# func_try_safe — the ANSI-mode error-safe scalar surface (Spark 4 runs
# ANSI ON in the driver session, where bare division-by-zero and bad
# casts are runtime ERRORS): try_divide → NULL on zero denominators,
# try_cast → NULL on malformed input, try_to_timestamp → NULL on
# unparseable strings. The oracle replays each as the explicit
# CASE/TRY_CAST spelling. Null-flow is aggregated per status (counts +
# a decimal-exact sum over the try_divide survivors) so every NULL
# contract lands in the hash.
# ---------------------------------------------------------------------------
def func_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    den = F.col("o_custkey") % 5
    safe_div = F.try_divide(F.col("o_totalprice"), den)
    # the SUMMED quantity is exact integer cents div (engine round(x, 2)
    # on a float quotient disagrees at 1 ulp often enough to shift cents;
    # try_divide still carries the NULL contract into n_div_null)
    safe_cents = F.when(den != 0, F.expr(
        "CAST(round(o_totalprice * 100) AS BIGINT) div (o_custkey % 5)"
    ))
    digit = F.expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)")
    bad_cast = F.expr("try_cast(o_orderpriority AS INT)")
    bad_ts = F.try_to_timestamp(F.col("o_orderpriority"))
    staged = orders.select(
        "o_orderstatus",
        safe_div.alias("sd"),
        safe_cents.alias("sc"),
        digit.alias("digit"),
        bad_cast.alias("bc"),
        bad_ts.alias("bt"),
    )
    return staged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("sd").isNull(), 1).otherwise(0)).cast("long").alias("n_div_null"),
        F.sum("sc").cast("long").alias("safe_div_cents_sum"),
        F.sum("digit").cast("long").alias("priority_digit_sum"),
        F.sum(F.when(F.col("bc").isNull(), 1).otherwise(0)).cast("long").alias("n_cast_null"),
        F.sum(F.when(F.col("bt").isNull(), 1).otherwise(0)).cast("long").alias("n_ts_null"),
    )


register(
    "func_try_safe",
    func_try_safe,
    """
WITH staged AS (
  SELECT o_orderstatus,
         CASE WHEN o_custkey % 5 = 0 THEN NULL
              ELSE o_totalprice / (o_custkey % 5) END AS sd,
         CASE WHEN o_custkey % 5 = 0 THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) // (o_custkey % 5) END AS sc,
         TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS digit,
         TRY_CAST(o_orderpriority AS INTEGER) AS bc,
         TRY_CAST(o_orderpriority AS TIMESTAMP) AS bt
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN sd IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
       CAST(sum(sc) AS BIGINT) AS safe_div_cents_sum,
       CAST(sum(digit) AS BIGINT) AS priority_digit_sum,
       CAST(sum(CASE WHEN bc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null,
       CAST(sum(CASE WHEN bt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_null
FROM staged
GROUP BY o_orderstatus
""",
)
