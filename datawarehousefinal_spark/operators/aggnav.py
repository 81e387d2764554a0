"""Aggregate tables + aggregate navigator for the MDX cube surface.

Mondrian's production answer to big facts is AGGREGATE TABLES: a
pre-aggregated rollup of the fact at some grain, plus a navigator that
answers any query AT OR ABOVE that grain from the rollup instead of the
fact (Mondrian's ``<AggName>`` declarations and AggStar matcher — the
natural companion of the reference's cube schema,
Schema_Trabajo_Final.xml:56-91). This module re-expresses that
mechanism Spark-first:

- :func:`materialize_aggregate` groups the cube's star once at a
  declared grain (one SQL GROUP BY over the star's statement) and
  stores MERGEABLE MEASURE STATES, not final
  values — ``count`` → a per-cell count, ``sum`` → a per-cell sum,
  ``avg`` → BOTH (sum, count), ``min``/``max`` → per-cell min/max —
  because a coarser query must re-aggregate cells, and an average of
  averages is wrong. Written to parquet when a path is given (the
  production shape: build once, serve forever), else kept as SQL
  that the serving statement inlines.
- :func:`choose_aggregate` is the navigator: a parsed MDX SELECT is
  answerable from an aggregate table iff every grouping column AND
  every filter column (slicer + member dices — they must apply before
  re-aggregation) is part of the table's grain; among the answerable
  tables the smallest grain (fewest columns ≈ fewest cells) wins.
  Mondrian's ``distinct-count`` aggregator and the exact ``median``
  are the special cases: their states (per-cell COUNT DISTINCT /
  median) are NOT mergeable — two cells' value sets overlap, two
  medians don't combine — so a query needing one routes to a table
  only at EXACT grain (no re-fold), falls back to the fact otherwise,
  and incremental ingest refuses the cube loudly.
- The front door routes: tables registered on ``CubeDef.aggregates``
  (``dataclasses.replace(cube, aggregates=[...])``) make plain
  ``mdx_query`` consult the navigator on EVERY query — Mondrian's
  deployment shape, where ``<AggName>`` declarations live on the
  schema and clients never address aggregates explicitly. The chosen
  rollup runs through the same SQL compile as the fact path
  (operators/mdx.py:compile_select) — calculated members, TOPCOUNT,
  FILTER, hasAll grouping-set lattices all work unchanged, because
  the only thing that differs is how a base measure aggregates
  (re-fold the states instead of folding the fact). No covering
  table → the fact star answers, exactly Mondrian's fallback; a
  caller that must route passes a ``star_builder`` that raises.
- :func:`ingest_into_aggregate` maintains a rollup INCREMENTALLY: a
  batch of new star rows folds into the existing cells at O(batch +
  touched cells) — the fact is never re-read — because every stored
  state is a commutative monoid (counts/sums re-sum, min/max
  re-fold). Merge ≡ rebuild, proven by the oracled face
  ``incremental_aggregate_rollup``.

100 TB story: this is THE scale lever for the BI surface. A
(year, month, segment) rollup of a 100 TB fact is a few thousand rows;
every dashboard drill at or above month grain then reads kilobytes,
never the fact. Materialization itself is one map-side-combined
shuffle of the fact — the same cost as answering one query at that
grain — amortized over every query the navigator routes. Correctness
does not depend on the navigator's choice (states are mergeable), so
routing is a pure optimization, proven by the oracled face
``mdx_aggregate_navigator`` (hash-identical to the fact-path answer).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from datawarehousefinal_spark.operators.mdx import (
    CubeDef,
    MdxError,
    MdxSelect,
    needed_base_measures,
    parse_mdx,
)
from datawarehousefinal_spark.operators.relation import Rel, ident


@dataclass
class AggTable:
    """A materialized rollup of a cube's star: ``grain`` is the star
    columns it groups by; ``rel`` carries one row per grain cell with
    the mergeable state columns of EVERY cube measure (see
    :func:`_state_columns`)."""

    name: str
    grain: tuple[str, ...]
    rel: Rel | None

    @property
    def table(self) -> DataFrame:
        """The rollup's cells as a DataFrame."""
        return self.rel.df()


def _state_columns(cube: CubeDef) -> list[tuple[str, str]]:
    """(state_name, state_agg SQL) pairs for every cube measure — the
    per-cell mergeable states an aggregate table stores. ``avg`` stores
    two states (sum + count); the others one."""
    out: list[tuple[str, str]] = []
    seen: set[str] = set()

    def add(alias: str, kind: str, agg: str):
        name = f"{alias}__{kind}"
        if name not in seen:
            seen.add(name)
            out.append((name, f"{agg} AS {ident(name)}"))

    for _mname, (agg, col, alias) in cube.measures.items():
        c = ident(col)
        if agg == "count":
            add(alias, "cnt", f"count({c})")
        elif agg == "sum":
            add(alias, "sum", f"sum({c})")
        elif agg == "avg":
            # EXACT decimal sum-state, not double: double addition is not
            # associative, so a merged/re-folded rollup's avg differed
            # from the fact-path scan-order sum by one ulp (the r12
            # driver red — 49/79 cells off by rel ~1e-16). DECIMAL(20,4)
            # is exact for every cube avg input (2-dp money, integer
            # quantities), decimal addition IS associative, so
            # merge ≡ rebuild becomes bit-identical; reagg_expr casts
            # the exact sum to double once at serve (correctly rounded
            # in both Spark and DuckDB) and divides.
            add(alias, "sum", f"sum(CAST({c} AS DECIMAL(20,4)))")
            add(alias, "cnt", f"count({c})")
        elif agg == "min":
            add(alias, "min", f"min({c})")
        elif agg == "max":
            add(alias, "max", f"max({c})")
        elif agg == "distinct-count":
            # a NON-mergeable state: two cells' distinct counts don't
            # combine (the value sets may overlap). Stored so an
            # EXACT-grain query serves precomputed; the navigator never
            # routes a coarser query here (choose_aggregate), and
            # incremental ingest refuses the cube (_merge_exprs).
            add(alias, "dcnt", f"count(DISTINCT {c})")
        elif agg == "median":
            # the other NON-mergeable state: two cells' medians don't
            # combine either — same exact-grain-only treatment
            add(alias, "med", f"median({c})")
        else:
            raise MdxError(f"unsupported aggregator {agg!r}")
    return out


def grain_columns(cube: CubeDef, levels: list[str]) -> tuple[str, ...]:
    """Expand ``"Dim.Level"`` names to the star columns an aggregate at
    that grain must group by — each level contributes its full ancestor
    chain (a month cell is keyed (anio, mes), the same hierarchy-aware
    keys the MDX translator groups by), deduplicated in order."""
    cols: list[str] = []
    for spec in levels:
        dim, _, level = spec.partition(".")
        if not level:
            raise MdxError(
                f"aggregate grain entries must be 'Dim.Level', got {spec!r}"
            )
        for c in cube.level_chain(dim, level):
            if c not in cols:
                cols.append(c)
    if not cols:
        raise MdxError("aggregate grain selected no columns")
    return tuple(cols)


def materialize_aggregate(
    cube: CubeDef,
    levels: list[str],
    *star_args,
    path: str | None = None,
    name: str | None = None,
    source: Rel | DataFrame | None = None,
    partition_by: str | None = None,
) -> AggTable:
    """Build the rollup of ``cube``'s star at the grain of ``levels``
    (``"Dim.Level"`` names, hierarchy-chain-expanded). One
    map-side-combined shuffle of the fact; the result has one row per
    grain cell. With ``path``, write parquet and serve the read-back
    (build-once-serve-forever — the navigator's scans then provably
    touch the rollup file, never the fact). ``source`` overrides the
    cube's star builder (e.g. the already-ingested slice of a fact
    whose remainder arrives later through
    :func:`ingest_into_aggregate`).

    ``partition_by`` (a ``"Dim.Level"`` whose chain head is a single
    column, typically the top time level) lays the parquet out
    partitioned by that column — the production storage shape: a
    year-diced dashboard query then PRUNES to the diced partitions at
    the scan (PartitionFilters, zero I/O on other years), which is the
    difference between "reads kilobytes" and "reads the whole rollup"
    once a rollup itself has grown to millions of cells. Requires
    ``path`` (partitioning is a storage property)."""
    grain = grain_columns(cube, levels)
    star = Rel.of(
        source if source is not None else cube.star_builder(*star_args)
    )
    pcol = None
    if partition_by is not None:
        if path is None:
            raise MdxError(
                "partition_by needs a parquet path — partitioning is a "
                "storage property"
            )
        pdim, _, plevel = partition_by.partition(".")
        pchain = cube.level_chain(pdim, plevel)
        if len(pchain) != 1:
            raise MdxError(
                f"partition_by level [{pdim}].[{plevel}] is keyed by "
                f"its ancestor chain {pchain} — partition rollups by a "
                "hierarchy TOP level"
            )
        pcol = pchain[0]
        if pcol not in grain:
            raise MdxError(
                f"partition_by column {pcol!r} is not part of the "
                f"grain {grain}"
            )
    return _rollup(cube, star, grain, name, path, pcol)


def _states_at(cube: CubeDef, star: Rel, grain: tuple[str, ...]) -> Rel:
    """``star`` grouped at ``grain`` into every measure's states."""
    keys = ", ".join(ident(c) for c in grain)
    states = ", ".join(s for _n, s in _state_columns(cube))
    return star.derive(
        f"SELECT {keys}, {states}\nFROM {{rel}}\nGROUP BY {keys}"
    )


def _rollup(
    cube: CubeDef,
    star: Rel,
    grain: tuple[str, ...],
    name: str | None,
    path: str | None,
    pcol: str | None = None,
) -> AggTable:
    """The aggregate table of ``star``'s states at ``grain``; with
    ``path``, written to parquet (partitioned by ``pcol``) and served
    from the read-back."""
    rollup = _states_at(cube, star, grain)
    if path is not None:
        writer = rollup.df().write.mode("overwrite")
        if pcol is not None:
            writer = writer.partitionBy(pcol)
        writer.parquet(path)
        rollup = Rel.of(star.spark.read.parquet(path))
    return AggTable(
        name=name or f"agg_{'_'.join(grain)}", grain=grain, rel=rollup
    )


_STATE_FOLD = {"cnt": "sum", "sum": "sum", "min": "min", "max": "max"}


def _merge_exprs(cube: CubeDef) -> list[str]:
    """How two rollups' state columns combine into one: counts and sums
    re-SUM, min/max re-fold — the same mergeability that makes the
    states query-safe makes them ingest-safe."""
    out = []
    for sname, _agg in _state_columns(cube):
        kind = sname.rsplit("__", 1)[1]
        if kind in ("dcnt", "med"):
            raise MdxError(
                f"{'distinct-count' if kind == 'dcnt' else 'median'} "
                "states are not mergeable — a batch's values change "
                f"existing cells' answers, so incremental ingest of "
                f"{sname!r} would be wrong. Rebuild the aggregate "
                "(materialize_aggregate), or roll up a mergeable "
                "sketch store (operators/sketches.py: HLL for "
                "distincts, KLL for quantiles)."
            )
        out.append(f"{_STATE_FOLD[kind]}({ident(sname)}) AS {ident(sname)}")
    return out


def ingest_into_aggregate(
    cube: CubeDef, agg: AggTable, star_delta: Rel | DataFrame
) -> AggTable:
    """Incremental rollup maintenance: fold a batch of NEW star rows
    into an existing aggregate table without rebuilding it — the
    streaming-OLAP ingest pattern. The delta is aggregated to states at
    the table's grain (one map-side-combined shuffle of the BATCH, the
    fact is never re-read), unioned with the existing cells, and the
    states re-folded per cell. Cost is O(batch + touched cells); cells
    the batch doesn't touch pass through the fold unchanged. Correct by
    the same algebra the navigator relies on (states are commutative
    monoids), proven merge≡rebuild by the oracled face
    ``incremental_aggregate_rollup``. At 100 TB the merged frame
    becomes a MERGE INTO / partition overwrite of the touched cells on
    the lakehouse table; the state algebra here is exactly what that
    writer folds."""
    merge = _merge_exprs(cube)  # loud on non-mergeable states
    delta = _states_at(cube, Rel.of(star_delta), agg.grain)
    cols = ", ".join(
        ident(c) for c in (*agg.grain, *(n for n, _s in _state_columns(cube)))
    )
    keys = ", ".join(ident(c) for c in agg.grain)
    merged = Rel(
        delta.spark,
        f"SELECT {keys}, {', '.join(merge)}\nFROM (\n"
        f"SELECT {cols} FROM (\n{agg.rel.sql}\n)\nUNION ALL\n"
        f"SELECT {cols} FROM (\n{delta.sql}\n)\n)\nGROUP BY {keys}",
        agg.rel.frames + delta.frames,
    )
    return AggTable(name=agg.name, grain=agg.grain, rel=merged)


def reagg_expr(cube: CubeDef, measure_name: str) -> str:
    """The re-aggregation of a base measure over aggregate-table cells:
    fold the mergeable states — counts and sums re-SUM, min/max re-fold,
    and avg divides the re-summed sum by the re-summed count (never an
    average of averages)."""
    agg, _col, alias = cube.measure_def(measure_name)
    out = ident(alias)
    if agg == "count":
        return f"sum({ident(alias + '__cnt')}) AS {out}"
    if agg == "sum":
        return f"sum({ident(alias + '__sum')}) AS {out}"
    if agg == "avg":
        # exact decimal re-sum → ONE correctly-rounded double conversion
        # → ONE IEEE division: bit-identical in Spark and DuckDB no
        # matter how the cells were partitioned or merged (decimal
        # addition is associative; double addition is not — the r12
        # one-ulp driver red). Oracles of rollup-served avg faces use
        # the matching CAST(sum(CAST(x AS DECIMAL(20,4))) AS DOUBLE)/count.
        return (
            f"CAST(sum({ident(alias + '__sum')}) AS DOUBLE) / "
            f"sum({ident(alias + '__cnt')}) AS {out}"
        )
    if agg == "min":
        return f"min({ident(alias + '__min')}) AS {out}"
    if agg == "max":
        return f"max({ident(alias + '__max')}) AS {out}"
    if agg == "distinct-count":
        # valid ONLY at exact grain (one table row per output cell —
        # max of a singleton is the value itself); choose_aggregate
        # never routes a coarser query to this expression
        return f"max({ident(alias + '__dcnt')}) AS {out}"
    if agg == "median":
        # same exact-grain-only singleton serve
        return f"max({ident(alias + '__med')}) AS {out}"
    raise MdxError(f"unsupported aggregator {agg!r}")


def choose_aggregate(
    cube: CubeDef, sel: MdxSelect, aggs: list[AggTable]
) -> AggTable | None:
    """The navigator: the smallest-grain table that covers the query.
    Covering = every grouping column and every filter column (slicer,
    member dices, and sub-select restrictions — all of which must apply
    BEFORE re-aggregation) is in the table's grain. Measures never
    disqualify a table — every table stores every measure's states —
    EXCEPT the non-mergeable aggregators (distinct-count, median):
    a query needing one routes to a table only at EXACT grain (query
    grouping columns = table grain, single grouping set — each output
    cell is then exactly one stored row and no re-fold happens;
    Mondrian's AggStar applies the same restriction to distinct-count)
    and never with custom AGGREGATE groups (the remap merges cells).
    None when nothing covers (the fact answers)."""
    needed = needed_base_measures(sel, cube)  # loud on unknown measures
    needs_distinct = any(
        cube.measure_def(m)[0] in ("distinct-count", "median")
        for m in needed
    )
    if needs_distinct and sel.custom_groups:
        # a custom AGGREGATE member merges grain cells even at "exact"
        # grain — overlapping distinct sets would re-fold; fact only
        return None
    required = set(sel.group_cols) | sel.dice_columns()
    best: AggTable | None = None
    for agg in aggs:
        if not required <= set(agg.grain):
            continue
        if needs_distinct and (
            set(sel.group_cols) != set(agg.grain)
            or len(sel.grouping_sets) > 1
        ):
            continue
        if best is None or len(agg.grain) < len(best.grain):
            best = agg
    return best


@dataclass
class AggRecommendation:
    """One advisor pick: materialize ``grain``; it holds ``cells`` rows
    and would answer the workload queries at ``covers`` (indices),
    saving ``saving`` scanned rows per full workload pass at the time
    it was chosen (greedy marginal benefit, not a global optimum)."""

    grain: tuple[str, ...]
    cells: int
    covers: tuple[int, ...]
    saving: int


def recommend_aggregates(
    cube: CubeDef,
    workload: list[str],
    *star_args,
    max_tables: int = 3,
    source: Rel | DataFrame | None = None,
) -> list[AggRecommendation]:
    """The aggregate ADVISOR — Mondrian AggGen's role, Spark-first:
    given the MDX queries a deployment actually runs, pick the
    rollup grains worth materializing.

    Candidates are each query's own requirement set (grouping + every
    pre-aggregation filter column — the grain Mondrian's AggGen emits
    per query); COVERAGE is decided by :func:`choose_aggregate` itself
    on a stub table, so the advisor can never recommend a table the
    navigator would then refuse (the non-mergeable exact-grain rule
    and the custom-group rule apply automatically). Every candidate's
    cell count comes from ONE aggregation pass over the star
    (``count_distinct`` per candidate, map-side combined — the same
    cost as answering one query), and selection is the classic greedy
    of Harinarayan/Rajaraman/Ullman's "Implementing Data Cubes
    Efficiently": repeatedly materialize the candidate with the
    largest marginal saving, where a query's cost is the cell count
    of the smallest chosen table covering it (else the fact's row
    count), stopping at ``max_tables`` or when no candidate saves
    anything. Deterministic: ties break toward fewer cells, then
    fewer grain columns, then column names.

    100 TB: the advisor reads the fact ONCE (one wide distinct-count
    aggregate + one count) no matter how many queries the workload
    holds; what it buys is every future dashboard pass hitting
    kilobyte rollups instead of the fact — the measured version of
    the navigator's promise."""
    sels = [parse_mdx(q, cube) for q in workload]
    needed_cols = [
        tuple(sorted(set(sel.group_cols) | sel.dice_columns()))
        for sel in sels
    ]
    candidates = sorted({cols for cols in needed_cols if cols})
    if not candidates:
        return []

    star = Rel.of(
        source if source is not None else cube.star_builder(*star_args)
    )
    distincts = "".join(
        f", count(DISTINCT {', '.join(ident(c) for c in cols)}) "
        f"AS `__cand_{i}`"
        for i, cols in enumerate(candidates)
    )
    counts_row = star.derive(
        f"SELECT count(1) AS `__fact_rows`{distincts} FROM {{rel}}"
    ).df().collect()[0]
    fact_rows = counts_row["__fact_rows"]
    cells = {
        cols: counts_row[f"__cand_{i}"]
        for i, cols in enumerate(candidates)
    }

    def covers(grain: tuple[str, ...], sel: MdxSelect) -> bool:
        stub = AggTable(name="__stub", grain=grain, rel=None)
        return choose_aggregate(cube, sel, [stub]) is not None

    cover_map = {
        grain: tuple(
            i for i, sel in enumerate(sels) if covers(grain, sel)
        )
        for grain in candidates
    }

    chosen: list[AggRecommendation] = []
    cost = [fact_rows] * len(sels)
    remaining = list(candidates)
    while remaining and len(chosen) < max_tables:
        best = None
        for grain in remaining:
            saving = sum(
                max(0, cost[i] - cells[grain])
                for i in cover_map[grain]
            )
            key = (-saving, cells[grain], len(grain), grain)
            if best is None or key < best[0]:
                best = (key, grain, saving)
        _key, grain, saving = best
        if saving <= 0:
            break
        chosen.append(
            AggRecommendation(
                grain=grain,
                cells=cells[grain],
                covers=cover_map[grain],
                saving=saving,
            )
        )
        for i in cover_map[grain]:
            cost[i] = min(cost[i], cells[grain])
        remaining.remove(grain)
    return chosen


def materialize_recommended(
    cube: CubeDef,
    workload: list[str],
    *star_args,
    max_tables: int = 3,
    path_prefix: str | None = None,
) -> list[AggTable]:
    """Advisor → materializer → schema registration in ONE gesture —
    the full Mondrian AggGen loop (run the advisor over the workload,
    CREATE the recommended aggregate tables, declare them as
    ``<AggName>`` entries so the AggStar matcher routes to them),
    Spark-first: :func:`recommend_aggregates` picks the grains,
    each pick is grouped out of the star with the same mergeable
    measure states every aggregate table stores, and the tables are
    appended to ``cube.aggregates`` so every subsequent
    front-door ``mdx_query`` on this cube consults the navigator and
    answers the workload from the picks — no caller plumbing.

    With ``path_prefix`` each rollup is written to
    ``{path_prefix}/agg_<grain>`` parquet and served from the
    read-back (build-once-serve-forever; scans provably touch the
    rollup files). Cost: one map-side-combined shuffle of the star per
    pick, bounded by ``max_tables`` — the same cost as answering each
    picked grain's query once, amortized over every routed query."""
    recs = recommend_aggregates(cube, workload, *star_args, max_tables=max_tables)
    star = Rel.of(cube.star_builder(*star_args))
    tables: list[AggTable] = []
    for rec in recs:
        name = f"agg_{'_'.join(rec.grain)}"
        path = None
        if path_prefix is not None:
            path = f"{path_prefix.rstrip('/')}/{name}"
        table = _rollup(cube, star, rec.grain, name, path)
        tables.append(table)
        cube.aggregates.append(table)
    return tables
