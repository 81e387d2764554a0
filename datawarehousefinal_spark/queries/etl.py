"""Star-schema ETL: cleaning functions, splits, surrogate keys, dimension
merges, SCD2, date dimensions, joins and change data capture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import _CDC_APPLY_ORACLE, _norm_sql
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "text_normalize",
    oracle=f"""
    SELECT doc_id,
           {_norm_sql("'  ' || text || '   '")} AS text_norm
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 composite normalize_text on padded input (idempotence is
    covered in tests): lower → accent strip → whitespace collapse."""
    from datawarehousefinal_spark.functions import textnorm

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.lit("  "), F.col("text"), F.lit("   "))
    return docs.select("doc_id", textnorm.normalize_text(dirty).alias("text_norm"))


@query(
    "sentinel_null_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(nullif(CASE WHEN l_linenumber = 7 THEN 'sin especificar'
                            ELSE CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) END,
                       'sin especificar') AS INTEGER) AS edad
    FROM lineitem
    """,
)
def sentinel_null_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6+P1: sentinel→NULL then string→int cast (ValueMapper + SelectValues,
    etl_final.ktr:3529-3562,3484-3528). The sentinel is injected onto a
    synthetic string column since testdata has no dirty numerics."""
    from datawarehousefinal_spark.functions.cleaning import sentinel_to_null

    li = load_table(spark, sf_dir, "lineitem")
    edad_str = F.when(F.col("l_linenumber") == 7, F.lit("sin especificar")).otherwise(
        F.col("l_quantity").cast("int").cast("string")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        sentinel_to_null(edad_str).cast("int").alias("edad"),
    )


@query(
    "spanish_month_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CASE month(o_orderdate)
                WHEN 1 THEN 'enero' WHEN 2 THEN 'febrero' WHEN 3 THEN 'marzo'
                WHEN 4 THEN 'abril' WHEN 5 THEN 'mayo' WHEN 6 THEN 'junio'
                WHEN 7 THEN 'julio' WHEN 8 THEN 'agosto' WHEN 9 THEN 'septiembre'
                WHEN 10 THEN 'octubre' WHEN 11 THEN 'noviembre' WHEN 12 THEN 'diciembre'
           END AS mes_nombre,
           CAST(month(o_orderdate) AS INTEGER) AS mes_numero
    FROM orders
    """,
)
def spanish_month_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: Spanish month-name → number literal map (etl_final.ktr:2669-2746),
    driven through a name column synthesized from the date."""
    from datawarehousefinal_spark.functions.cleaning import (
        SPANISH_MONTHS,
        map_literal,
        spanish_month_number,
    )

    orders = load_table(spark, sf_dir, "orders")
    number_to_name = {v: k for k, v in SPANISH_MONTHS.items()}
    named = orders.select(
        "o_orderkey",
        map_literal(F.month("o_orderdate"), number_to_name).alias("mes_nombre"),
    )
    return named.select(
        "o_orderkey", "mes_nombre", spanish_month_number("mes_nombre").alias("mes_numero")
    )


@query(
    "fecha_completa_roundtrip",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)::VARCHAR || '/' || month(o_orderdate)::VARCHAR
             || '/' || day(o_orderdate)::VARCHAR AS fecha_completa,
           CAST(o_orderdate AS DATE) AS fecha,
           CAST(CAST(o_orderdate AS DATE) - DATE '0001-01-01' + 1 AS BIGINT) AS fecha_ordinal,
           CAST(month(o_orderdate) AS INTEGER) AS mes,
           CAST(day(o_orderdate) AS INTEGER) AS dia
    FROM orders
    """,
)
def fecha_completa_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9-F11: non-padded 'y/M/d' concat, parse back, proleptic ordinal +
    parts (the reference's fecha_completa lifecycle, SURVEY.md §7.3)."""
    from datawarehousefinal_spark.functions import dates

    orders = load_table(spark, sf_dir, "orders")
    with_fecha = orders.select(
        "o_orderkey",
        dates.concat_date_nonpadded(
            F.year("o_orderdate"), F.month("o_orderdate"), F.dayofmonth("o_orderdate")
        ).alias("fecha_completa"),
    )
    fecha = dates.parse_date_nonpadded("fecha_completa")
    return with_fecha.select(
        "o_orderkey",
        "fecha_completa",
        fecha.alias("fecha"),
        dates.proleptic_ordinal(fecha).alias("fecha_ordinal"),
        F.month(fecha).alias("mes"),
        F.dayofmonth(fecha).alias("dia"),
    )


@query(
    "category_map_segments",
    oracle="""
    WITH lookup(value_norm, category) AS (
        VALUES ('building', 'Construccion'), ('automobile', 'Transporte'),
               ('machinery', 'Industria'), ('household', 'Hogar')
    )
    SELECT c_custkey,
           coalesce(l.category,
                    trim(regexp_replace(translate(lower(c_mktsegment),
                         'áéíóúüñÁÉÍÓÚÜÑ', 'aeiouunAEIOUUN'), '\\s+', ' ', 'g'))
           ) AS segment_class
    FROM customer c
    LEFT JOIN lookup l
      ON trim(regexp_replace(translate(lower(c.c_mktsegment),
              'áéíóúüñÁÉÍÓÚÜÑ', 'aeiouunAEIOUUN'), '\\s+', ' ', 'g')) = l.value_norm
    """,
)
def category_map_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: dictionary category mapping via normalized broadcast lookup
    (occupation→class pattern, Datos/preprocessing.py:39-64). FURNITURE is
    deliberately unmapped to exercise the keep-unmapped fallback."""
    from datawarehousefinal_spark.functions.cleaning import (
        apply_category_map,
        category_lookup_df,
    )

    customer = load_table(spark, sf_dir, "customer")
    lookup = category_lookup_df(
        spark,
        {
            "Construccion": ["BUILDING"],
            "Transporte": ["AUTOMOBILE"],
            "Industria": ["MACHINERY"],
            "Hogar": ["HOUSEHOLD"],
        },
    )
    return apply_category_map(customer, "c_mktsegment", lookup, "segment_class").select(
        "c_custkey", "segment_class"
    )


@query(
    "unmapped_report",
    oracle="""
    WITH lookup(value_norm, category) AS (
        VALUES ('building', 'Construccion'), ('automobile', 'Transporte'),
               ('machinery', 'Industria'), ('household', 'Hogar')
    )
    SELECT DISTINCT lower(c_mktsegment) AS value_norm
    FROM customer
    WHERE lower(c_mktsegment) NOT IN (SELECT value_norm FROM lookup)
    """,
)
def unmapped_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 data-quality report: normalized values with no category
    (Datos/preprocessing.py:63-64,325-327) — left_anti join."""
    from datawarehousefinal_spark.functions.cleaning import (
        category_lookup_df,
        unmapped_report as _report,
    )

    customer = load_table(spark, sf_dir, "customer")
    lookup = category_lookup_df(
        spark,
        {
            "Construccion": ["BUILDING"],
            "Transporte": ["AUTOMOBILE"],
            "Industria": ["MACHINERY"],
            "Hogar": ["HOUSEHOLD"],
        },
    )
    return _report(customer, "c_mktsegment", lookup)


@query(
    "filter_split_union",
    oracle="""
    SELECT o_orderkey, o_orderstatus, 'fact_inmigrante' AS source_fact
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'fact_emigrante' AS source_fact
    FROM orders WHERE o_orderstatus IS DISTINCT FROM 'O'
    """,
)
def filter_split_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+U2: Kettle FilterRows two-way split (null-safe false branch,
    SURVEY.md §7.4) + provenance-tagged reunion (machineLearning.py:161-164).
    Invariant |true|+|false| == |input| is what the oracle checks."""
    from datawarehousefinal_spark.operators.dataset import union_with_provenance
    from datawarehousefinal_spark.operators.star import filter_split

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    entrada, salida = filter_split(orders, F.col("o_orderstatus") == "O")
    return union_with_provenance(
        {"fact_inmigrante": entrada, "fact_emigrante": salida}
    )


@query(
    "dim_build_surrogate",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT)
             AS id_estado,
           o_orderstatus, o_orderpriority
    FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
    """,
)
def dim_build_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 phase 1: distinct natural keys → deterministic dense surrogate ids
    (batch replacement for CombinationLookup, SURVEY.md §7.1)."""
    from datawarehousefinal_spark.operators.surrogate import build_dimension

    orders = load_table(spark, sf_dir, "orders")
    return build_dimension(orders, ["o_orderstatus", "o_orderpriority"], "id_estado")


@query(
    "fact_fk_attach",
    oracle="""
    WITH dim AS (
        SELECT CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT)
                 AS id_estado,
               o_orderstatus, o_orderpriority
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
    )
    SELECT o.o_orderkey, d.id_estado
    FROM orders o LEFT JOIN dim d
      ON o.o_orderstatus = d.o_orderstatus AND o.o_orderpriority = d.o_orderpriority
    """,
)
def fact_fk_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 phase 2: broadcast FK attach — fact rows never shuffle."""
    from datawarehousefinal_spark.operators.surrogate import (
        attach_surrogate_key,
        build_dimension,
    )

    orders = load_table(spark, sf_dir, "orders")
    dim = build_dimension(orders, ["o_orderstatus", "o_orderpriority"], "id_estado")
    return attach_surrogate_key(
        orders, dim, ["o_orderstatus", "o_orderpriority"], "id_estado"
    ).select("o_orderkey", "id_estado")


@query(
    "dim_merge_incremental",
    oracle="""
    WITH existing AS (
        SELECT CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT)
                 AS id_estado,
               o_orderstatus, o_orderpriority
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority
              FROM orders WHERE year(o_orderdate) < 1997)
    ), fresh AS (
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        EXCEPT
        SELECT o_orderstatus, o_orderpriority FROM existing
    )
    SELECT id_estado, o_orderstatus, o_orderpriority FROM existing
    UNION ALL
    SELECT (SELECT max(id_estado) FROM existing)
             + CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT),
           o_orderstatus, o_orderpriority
    FROM fresh
    """,
)
def dim_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 incremental merge: unseen natural-key combos appended after
    max(existing id) — the insert-on-miss half of CombinationLookup as one
    left_anti batch."""
    from datawarehousefinal_spark.operators.surrogate import (
        build_dimension,
        merge_dimension,
    )

    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    existing = build_dimension(
        orders.filter(F.year("o_orderdate") < 1997), keys, "id_estado"
    )
    return merge_dimension(existing, orders, keys, "id_estado")


@query(
    "star_denormalized",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           p.p_name  AS part_p_name,  p.p_brand AS part_p_brand,
           s.s_name  AS supplier_s_name,
           o.o_orderstatus AS orders_o_orderstatus,
           o.o_orderpriority AS orders_o_orderpriority
    FROM lineitem l
    LEFT JOIN (SELECT p_partkey, p_name, p_brand FROM part) p
      ON l.l_partkey = p.p_partkey
    LEFT JOIN (SELECT s_suppkey, s_name FROM supplier) s
      ON l.l_suppkey = s.s_suppkey
    LEFT JOIN (SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    """,
)
def star_denormalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: star denormalization with <dim>_<col> prefix aliasing
    (build_fact_query, machineLearning.py:101-125). All dims broadcast."""
    from datawarehousefinal_spark.operators.dataset import denormalize

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    wide = denormalize(
        li.withColumnsRenamed(
            {"l_partkey": "p_partkey", "l_suppkey": "s_suppkey", "l_orderkey": "o_orderkey"}
        ),
        {
            "part": (part, "p_partkey"),
            "supplier": (supp, "s_suppkey"),
            "orders": (orders, "o_orderkey"),
        },
    )
    return wide.select(
        F.col("o_orderkey").alias("l_orderkey"),
        "l_linenumber",
        "l_quantity",
        "part_p_name",
        "part_p_brand",
        "supplier_s_name",
        "orders_o_orderstatus",
        "orders_o_orderpriority",
    )


@query(
    "fuzzy_closest_match",
    oracle="""
    SELECT s_suppkey, s_name, match, distance FROM (
        SELECT s.s_suppkey, s.s_name, n.n_name AS match,
               CAST(levenshtein(s.s_name, n.n_name) AS INTEGER) AS distance,
               row_number() OVER (PARTITION BY s.s_suppkey, s.s_name
                                  ORDER BY levenshtein(s.s_name, n.n_name), n.n_name) AS rn
        FROM supplier s CROSS JOIN (SELECT DISTINCT n_name FROM nation) n
    ) WHERE rn = 1
    """,
)
def fuzzy_closest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/F14: Levenshtein closest-value match (the reference's unwired
    FuzzyMatch step, etl_final.ktr:3608-3645, done properly)."""
    from datawarehousefinal_spark.operators.fuzzy import fuzzy_closest

    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    nation = load_table(spark, sf_dir, "nation")
    return fuzzy_closest(supplier, nation, "s_name", "n_name")


@query(
    "fuzzy_blocked_match",
    oracle="""
    WITH l AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 5 = 0
    ),
    r AS (
      SELECT DISTINCT substr(c_name, 1, length(c_name) - 2) AS ref
      FROM customer WHERE c_custkey % 13 = 0
    ),
    s AS (
      SELECT l.c_custkey, l.c_name, r.ref AS match,
             CAST(levenshtein(l.c_name, r.ref) AS INTEGER) AS distance,
             row_number() OVER (
               PARTITION BY l.c_custkey
               ORDER BY levenshtein(l.c_name, r.ref), r.ref) AS rn
      FROM l, r
      WHERE abs(length(l.c_name) - length(r.ref)) <= 2
        AND levenshtein(l.c_name, r.ref) <= 2
    )
    SELECT c_custkey, c_name, match, distance FROM s WHERE rn = 1
    """,
)
def fuzzy_blocked_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 at big×big scale (fuzzy.fuzzy_closest_blocked): the same
    FuzzyMatch contract (etl_final.ktr:3608-3645) when the lookup list
    is another fact-sized table — candidates come from a LOSSLESS
    length-band equi-join (|Δlen| ≤ d bounds Levenshtein from below)
    instead of a broadcast nested loop, then a bounded
    ``levenshtein(_, _, d)`` scores only band-mates. Fixture: every 5th
    customer name matched against a "dirty" lookup built by chopping 2
    chars off every 13th name — recoverable at distance exactly 2.
    Differential-equivalence to the brute force is pinned in
    tests/test_operators.py."""
    from datawarehousefinal_spark.operators.fuzzy import fuzzy_closest_blocked

    customer = load_table(spark, sf_dir, "customer")
    left = customer.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", "c_name"
    )
    right = customer.filter(F.col("c_custkey") % 13 == 0).select(
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("ref")
    )
    return fuzzy_closest_blocked(left, right, "c_name", "ref", max_distance=2)


@query(
    "clean_drop_fill",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity,
           coalesce(CASE WHEN l_linenumber = 5 THEN NULL ELSE l_discount END,
                    0.0) AS l_discount
    FROM lineitem
    WHERE l_linenumber != 4
    """,
)
def clean_drop_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P8+P9 combined: inject NULLs, drop date/flag columns by name
    predicate, dropna on the injected target, fillna(0) on the rest
    (machineLearning.py:271-276; deeplearning.py:53,77)."""
    from datawarehousefinal_spark.operators.dataset import (
        drop_columns_by_predicate,
        dropna_subset,
        fillna_zero,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumns(
        {
            "l_quantity": F.when(F.col("l_linenumber") == 4, None).otherwise(
                F.col("l_quantity").cast("double")
            ),
            "l_discount": F.when(F.col("l_linenumber") == 5, None).otherwise(
                F.col("l_discount")
            ),
        }
    )
    slim = drop_columns_by_predicate(
        li, lambda c: c.endswith("date") or c in ("l_returnflag", "l_linestatus",
                                                  "l_shipinstruct", "l_shipmode",
                                                  "l_comment", "l_partkey",
                                                  "l_suppkey", "l_extendedprice",
                                                  "l_tax")
    )
    return fillna_zero(
        dropna_subset(slim, ["l_quantity"]), ["l_discount"]
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(
    "future_dates_365",
    oracle="""
    WITH last AS (SELECT max(CAST(ts AS DATE)) AS last_date FROM events)
    SELECT CAST(unnest(generate_series(last_date + 1, last_date + 365,
                                       INTERVAL 1 DAY)) AS DATE) AS fecha
    FROM last
    """,
)
def future_dates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: the 365-day forecast horizon after the max date
    (machineLearning.py:630-635) — sequence+explode, no driver round-trip."""
    from datawarehousefinal_spark.functions.dates import future_dates

    events = load_table(spark, sf_dir, "events")
    last = events.agg(F.max(F.to_date("ts")).alias("last_date"))
    return future_dates(spark, last, 365)


@query(
    "union_yearly_sources",
    oracle="""
    SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS anio
    FROM orders
    """,
)
def union_yearly_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: the six-yearly-CSV append union (etl_final.ktr:555-589) —
    re-partitioned per year then funneled back with unionByName; the
    invariant is exact row-set preservation."""
    from datawarehousefinal_spark.operators.star import union_sources

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("anio")
    )
    # Fixed yearly slices (the testdata date domain), like the reference's
    # six fixed yearly files; the null-safe tail slice keeps the union an
    # exact partition of the input without a driver-side distinct.
    years = list(range(1992, 1998))
    yearly = [orders.filter(F.col("anio") == y) for y in years]
    yearly.append(orders.filter(~F.col("anio").isin(years) | F.col("anio").isNull()))
    return union_sources(yearly)


@query(
    "colname_normalize",
    oracle="""
    SELECT c_custkey AS clave_del_cliente, c_mktsegment AS segmento_de_mercado
    FROM customer
    """,
)
def colname_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: header normalization (Datos/preprocessing.py:125) — accented,
    padded, mixed-case column names come out lowered/deaccented/underscored.
    The schema gate (column names) is the real assertion here."""
    from datawarehousefinal_spark.functions.textnorm import normalize_column_names

    dirty = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("  Clave del Cliente "),
        F.col("c_mktsegment").alias("Segmento DE Mercado"),
    )
    return normalize_column_names(dirty)


@query(
    "scd2_user_event_history",
    oracle="""
    WITH h AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ),
    v AS (
        SELECT user_id, event_type, ts AS valid_from FROM h
        WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) IS NULL AS is_current
    FROM v
    """,
)
def scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 version table built from the events change log: one row
    per (user, consecutive event_type run) with validity interval —
    the history-preserving upgrade of the reference's type-1 overwrite
    dims (Kettle CombinationLookup, etl_final.ktr:2747+)."""
    from datawarehousefinal_spark.operators.scd import scd2_from_history

    events = load_table(spark, sf_dir, "events")
    return scd2_from_history(events, ["user_id"], ["event_type"], "ts")


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH l AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view'),
         r AS (SELECT user_id, ts, value AS purchase_value FROM events
               WHERE event_type = 'purchase'
               QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id) = 1)
    SELECT l.user_id, l.ts, l.event_id, r.purchase_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): for every
    'view' event, the value of the user's most recent prior-or-equal
    'purchase'. Pure-JVM union-and-carry window implementation (no Python
    in the plan — asserted in test_plans.py); DuckDB ASOF JOIN is the
    oracle. Right-side (user_id, ts) duplicates are pre-deduped because
    'most recent' is ill-defined on ties."""
    from pyspark.sql import Window

    from datawarehousefinal_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    right = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("value").alias("purchase_value"))
    )
    return asof_join(left, right, ["user_id"], "ts")


@query(
    "range_join_price_bands",
    oracle="""
    WITH bands AS (
        SELECT CAST(i AS INTEGER) AS band_id,
               CAST(i * 20000 AS DOUBLE) AS lo,
               CAST(i * 20000 + 29999 AS DOUBLE) AS hi
        FROM generate_series(0, 29) t(i)
    )
    SELECT o_orderkey, band_id
    FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
    """,
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (custom operator): orders matched into
    overlapping price bands via bucket-explode + hash join + exact
    post-filter — never a nested-loop scan (asserted in tests). DuckDB's
    inequality join is the oracle."""
    from datawarehousefinal_spark.operators.rangejoin import (
        bucketize_range_join,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    bands = spark.range(0, 30).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 20000).cast("double").alias("lo"),
        (F.col("id") * 20000 + 29999).cast("double").alias("hi"),
    )
    joined = bucketize_range_join(
        orders, bands, "o_totalprice", "lo", "hi", bucket_width=10000.0
    )
    return joined.select("o_orderkey", "band_id")


@query(
    "salted_skew_join_agg",
    oracle="""
    SELECT n_name, count(*) AS n, sum(c_acctbal) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1
    """,
)
def salted_skew_join_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation path: salted join (customer salted, nation
    replicated 8x) then aggregate — must produce byte-identical results to
    the plain join. At real scale this is the fallback for hot-keyed
    shuffled joins where the small side exceeds the broadcast threshold;
    AQE skew-join handles the rest (session.py)."""
    from datawarehousefinal_spark.operators.skew import salted_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        salted_join(cust, nation, ["c_nationkey"], num_salts=8)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "two_stage_distinct_count",
    oracle="""
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_distinct
    FROM orders GROUP BY 1
    """,
)
def two_stage_distinct_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group distinct count via dedup-then-count — the shuffle
    hashes (group, value) so a hot group's distinct state spreads across
    reducers, then the survivor count partial-combines map-side."""
    from datawarehousefinal_spark.operators.skew import (
        two_stage_distinct_count,
    )

    orders = load_table(spark, sf_dir, "orders")
    return two_stage_distinct_count(orders, ["o_orderstatus"], "o_custkey")


@query(
    "date_dimension_build",
    oracle="""
    SELECT CAST(d AS DATE) AS fecha,
           CAST(year(d) AS INTEGER) AS anio,
           CAST(month(d) AS INTEGER) AS mes,
           CAST(day(d) AS INTEGER) AS dia,
           CAST(quarter(d) AS INTEGER) AS trimestre,
           CAST(isodow(d) AS INTEGER) AS isodow,
           isodow(d) >= 6 AS is_weekend,
           CASE month(d)
             WHEN 1 THEN 'enero' WHEN 2 THEN 'febrero' WHEN 3 THEN 'marzo'
             WHEN 4 THEN 'abril' WHEN 5 THEN 'mayo' WHEN 6 THEN 'junio'
             WHEN 7 THEN 'julio' WHEN 8 THEN 'agosto'
             WHEN 9 THEN 'septiembre' WHEN 10 THEN 'octubre'
             WHEN 11 THEN 'noviembre' WHEN 12 THEN 'diciembre'
           END AS nombre_mes,
           year(d) || '/' || month(d) || '/' || day(d) AS fecha_completa
    FROM (SELECT unnest(generate_series(DATE '2023-11-15',
                 DATE '2024-03-15', INTERVAL 1 DAY)) AS d)
    """,
)
def date_dimension_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (dates.build_date_dimension — the
    pre-generated dim_fecha the reference builds lazily from facts,
    etl_final.ktr:2747-2805): every day over a leap-year boundary
    window with the Fecha drill attributes, ISO weekday, weekend flag,
    the F7-shared Spanish month names, and the reference's non-padded
    fecha_completa string — all replayed by the engine, leap day
    included."""
    from datawarehousefinal_spark.functions.dates import (
        build_date_dimension,
    )

    return build_date_dimension(spark, "2023-11-15", "2024-03-15")


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    d AS (
      SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
                  WHEN new.o_orderkey IS NULL THEN 'removed'
                  WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
                       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                  THEN 'changed' ELSE 'unchanged' END AS status
      FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    SELECT status, count(*)::BIGINT AS n_rows FROM d GROUP BY status
    """,
)
def snapshot_diff_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (the CDC/audit primitive): tonight's
    orders snapshot deterministically removes every 13th key, bumps the
    price of every 7th, and appends re-keyed copies of every 17th — the
    diff classifies each key through ONE co-partitioned full-outer join
    and the summary counts statuses. Oracle replays the same plant and
    classification with IS DISTINCT FROM (the null-safe compare Spark
    does with <=>)."""
    from datawarehousefinal_spark.operators.profile import (
        snapshot_diff_summary,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    return snapshot_diff_summary(orders, new, ["o_orderkey"])


@query(
    "cdc_extract_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 17 = 0
    """,
)
def cdc_extract_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round trip, hash-proven: the changeset EXTRACTED from
    (tonight, last-night) snapshots (scd.extract_changes — minimal
    I/U/D rows off one full-outer key join) APPLIED back to last night's
    snapshot must reproduce tonight's EXACTLY — the oracle is simply
    tonight's snapshot replayed in SQL, so the hash match pins
    ``apply ∘ extract = identity``, the contract that makes the two
    operators a usable CDC pair. Same deterministic evolution as
    snapshot_diff_orders (prices bumped on 7s, 13s removed, 17s
    re-keyed in)."""
    from datawarehousefinal_spark.operators.scd import (
        apply_changes,
        extract_changes,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    changes = extract_changes(orders, new, ["o_orderkey"])
    return apply_changes(orders, changes, ["o_orderkey"])


@query("cdc_apply_changes", oracle=_CDC_APPLY_ORACLE)
def cdc_apply_changes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert (scd.apply_changes — the write side of the
    snapshot_diff pair): a deterministic changeset updates every 7th
    order (+10% price, status 'U'), deletes every 11th (seq 2, so the
    delete wins over an update on keys divisible by 77), and inserts
    re-keyed new rows for every 13th. The operator reduces the changeset
    to latest-per-key with one window, anti-joins the snapshot on the
    key, and unions the upserts — the full post-merge snapshot is
    value-hashed against DuckDB's replay."""
    from datawarehousefinal_spark.operators.scd import apply_changes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("op"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 11 == 0).select(
                "o_orderkey",
                F.lit("D").alias("op"),
                F.lit(2).alias("seq"),
                F.lit(None).cast("string").alias("o_orderstatus"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("I").alias("op"),
                F.lit(1).alias("seq"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    return apply_changes(
        orders, changes, ["o_orderkey"], op_col="op", seq_col="seq"
    )


@query(
    "ivm_join_view_merge",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def ivm_join_view_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join view, proven by identity: the
    orders⋈customer revenue-by-nation view is built from an 80/20 split
    of BOTH inputs using the delta algebra ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    (operators/incremental.py:ivm_join_delta) and merged with the base
    view's aggregate state — three delta-sized joins instead of one
    full re-join per batch. The oracle computes the view DIRECTLY from
    the full tables: hash equality proves the maintenance algebra drops
    and double-counts nothing. Decimal-exact revenue."""
    from datawarehousefinal_spark.operators.incremental import ivm_join_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    base_a = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta_a = orders.filter(F.col("o_orderkey") % 5 == 0)
    base_b = cust.filter(F.col("o_custkey") % 7 != 0)
    delta_b = cust.filter(F.col("o_custkey") % 7 == 0)

    def view_agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev"),
        )

    base_view = view_agg(base_a.join(base_b, "o_custkey"))
    delta_view = view_agg(
        ivm_join_delta(base_a, delta_a, base_b, delta_b, ["o_custkey"])
    )
    return (
        base_view.unionByName(delta_view)
        .groupBy("nationkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


@query(
    "regex_parse_roundtrip",
    oracle="""
    WITH logs AS (
      SELECT 'order id=' || o_orderkey || ' cust=' || o_custkey
               || ' status=' || o_orderstatus || ' total='
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               AS line
      FROM orders
    ),
    parsed AS (
      SELECT regexp_extract(line, 'id=(\\d+)', 1)::BIGINT AS orderkey,
             regexp_extract(line, 'status=([A-Z])', 1) AS status,
             regexp_extract(line, 'total=([0-9.]+)', 1)
               ::DECIMAL(18,2) AS total
      FROM logs
    )
    SELECT status, count(*)::BIGINT AS n,
           CAST(sum(total) AS DOUBLE) AS total_sum,
           max(orderkey)::BIGINT AS max_key
    FROM parsed GROUP BY 1
    """,
)
def regex_parse_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-parsing ETL roundtrip: structured rows are FORMATTED into log
    lines, then re-extracted with regexp groups and re-aggregated — the
    semi-structured ingestion path (regexp_extract stays inside
    whole-stage codegen; no UDF). The aggregate equality against the
    typed source proves the round trip loses nothing: key, status and
    2-decimal money survive the text representation exactly."""
    orders = load_table(spark, sf_dir, "orders")
    logs = orders.select(
        F.concat(
            F.lit("order id="), F.col("o_orderkey").cast("string"),
            F.lit(" cust="), F.col("o_custkey").cast("string"),
            F.lit(" status="), F.col("o_orderstatus"),
            F.lit(" total="),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        ).alias("line")
    )
    parsed = logs.select(
        F.regexp_extract("line", r"id=(\d+)", 1).cast("long").alias(
            "orderkey"
        ),
        F.regexp_extract("line", r"status=([A-Z])", 1).alias("status"),
        F.regexp_extract("line", r"total=([0-9.]+)", 1)
        .cast("decimal(18,2)")
        .alias("total"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("total").cast("double").alias("total_sum"),
        F.max("orderkey").alias("max_key"),
    )


@query(
    "forget_users_cascade",
    oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 3
    ),
    ev AS (
      SELECT 'events' AS tbl,
             count(*)::BIGINT AS n_before,
             count(*) FILTER (WHERE f.user_id IS NULL)::BIGINT AS n_after
      FROM events e LEFT JOIN forget f ON e.user_id = f.user_id
    ),
    daily AS (
      SELECT 'daily_counts' AS tbl,
             (SELECT count(*) FROM (
                SELECT CAST(ts AS DATE) AS d FROM events GROUP BY 1))
               ::BIGINT AS n_before,
             (SELECT count(*) FROM (
                SELECT CAST(e.ts AS DATE) AS d FROM events e
                LEFT JOIN forget f ON e.user_id = f.user_id
                WHERE f.user_id IS NULL GROUP BY 1))::BIGINT AS n_after
    )
    SELECT tbl, n_before, n_after,
           (n_before - n_after)::BIGINT AS n_removed
    FROM ev
    UNION ALL
    SELECT tbl, n_before, n_after, (n_before - n_after)::BIGINT
    FROM daily
    """,
)
def forget_users_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic forget-set
    of users is removed from the raw events AND the derived daily-count
    aggregate is rebuilt from the scrubbed base; the report shows
    before/after/removed rows per affected table — the deletion
    evidence a privacy review signs off on. Removal is one broadcast
    anti-join per table (the forget-set is small by contract); the
    derived table demonstrates the CASCADE: aggregates must be rebuilt
    from scrubbed inputs, not patched."""
    events = load_table(spark, sf_dir, "events")
    forget = (
        events.filter(F.col("user_id") % 17 == 3)
        .select("user_id")
        .distinct()
    )
    scrubbed = events.join(F.broadcast(forget), "user_id", "left_anti")

    def report(tbl: str, before: DataFrame, after: DataFrame) -> DataFrame:
        b = before.agg(F.count(F.lit(1)).alias("n_before"))
        a = after.agg(F.count(F.lit(1)).alias("n_after"))
        return b.crossJoin(a).select(
            F.lit(tbl).alias("tbl"),
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_removed"),
        )

    daily_before = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily_after = scrubbed.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return report("events", events, scrubbed).unionByName(
        report("daily_counts", daily_before, daily_after)
    )
