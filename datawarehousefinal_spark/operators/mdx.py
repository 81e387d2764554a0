"""MDX front door for the Mondrian cube surface (SURVEY §3.3).

The reference exposes its two cubes to BI clients through Mondrian,
whose query language is MDX (Schema_Trabajo_Final.xml:56-91 declares
the cubes; clients send ``SELECT ... ON COLUMNS, ... ON ROWS FROM
[Cube] WHERE (...)``). The engine's OLAP surface re-expressed those
cubes as DataFrame/SQL plans (operators/olap.py); this module closes
the last front-door gap by translating the MDX subset those cubes
actually serve into the same plans — so a Mondrian client's query text
runs unchanged.

Supported subset (the shapes the reference schema can answer):

- ``SELECT {<measures>} ON COLUMNS, <set> ON ROWS FROM [Cube]``
- measure references ``[Measures].[Name]``
- ``WITH MEMBER [Measures].[Name] AS <expr>`` calculated measures:
  arithmetic (``+ - * /``, parens, unary minus, numeric literals) over
  base measures and previously-defined calculated members, evaluated
  AFTER aggregation (Mondrian solve-order-0 semantics — exactly one
  aggregation pass, the calculation is a post-agg projection). The
  expression may be quoted (``AS '...'``, classic Mondrian) or bare
  (modern MDX). Output column = the member name lowercased with
  non-alphanumerics collapsed to ``_``.
- level member sets ``{[Dim].[Level].Members}`` (drill to a level).
  HIERARCHY-AWARE: when the cube declares a level hierarchy for the
  dimension (``CubeDef.hierarchies``, e.g. Fecha = Anio > Mes > Dia,
  Schema_Trabajo_Final.xml:2-13), members of a child level are keyed
  by their full ancestor chain — ``[Fecha].[Mes].Members`` yields
  (Anio, Mes) cells, exactly as a Mondrian client drilling past year
  grain expects (January 1997 is a DIFFERENT member than January
  1998). Dimensions without a declared hierarchy keep single-column
  keys.
- member drill-down ``[Dim].[Level].[member].Children``: the members
  of the NEXT level of the declared hierarchy under that member —
  ``[Fecha].[Anio].[1997].Children`` groups by the (Anio, Mes) chain
  diced to Anio = 1997. Children of two parents in one set union
  (parent IN (...)); loud on a dimension without a declared hierarchy,
  on any level BELOW the hierarchy top (a ``[Dim].[Level].[v]`` path
  names a member by its leaf value alone, which is only unique at the
  top grain — [Fecha].[Mes].[6] is a different June per year, and
  drilling it would silently merge children across ancestors), and
  when the same set mixes a Children drill with an explicit member
  dice of the child level (a disjunctive shape this conjunctive-filter
  translator cannot express).
- ``DESCENDANTS([Dim].[Level].[member], [Dim].[TargetLevel])`` —
  Children generalized to ANY deeper level of the declared hierarchy:
  ``DESCENDANTS([Fecha].[Anio].[1997], [Fecha].[Dia])`` yields the
  (Anio, Mes, Dia) cells under 1997, skipping past Mes. Same top-grain
  anchor constraint as Children (a leaf-value member path is unique
  only at the top), same union/dice-mixing refusals; a target AT the
  anchor's level degenerates to the member itself (the default SELF
  flag), and the flag arguments (SELF_AND_BEFORE, LEAVES, ...) are
  loudly out of scope. Works in axis sets, CROSSJOIN branches and
  named-set bodies.
- member values are TEXT in the query and coerce to the level COLUMN's
  type at execution (schema-driven, never spelling-driven):
  ``[Anio].[1997]`` on an INT column is the exact predicate
  ``anio IN (1997)``; ``[Codigo].[123]`` on a STRING column stays the
  string (no engine-side column cast — which would crash under ANSI
  mode on any non-numeric value); a member that cannot coerce to a
  numeric level's type is a loud error.
- explicit member sets ``{[Dim].[Level].[v1], [Dim].[Level].[v2]}``
  (a dice: group by the level — ancestor-chain-keyed when a hierarchy
  is declared — keep the named members)
- ``CROSSJOIN(<set>, <set>)`` / nested crossjoins (multi-dim rows axis)
- ``TOPCOUNT(<set>, <n>, [Measures].[M])`` on the rows axis: the n
  set members ranking highest by the (base or calculated) measure,
  ties broken by the grouping columns ascending so the result is
  deterministic (documented divergence from Mondrian's unspecified
  tie order). Translates to ``ORDER BY measure DESC, keys LIMIT n``
  after aggregation — at 100 TB a TakeOrderedAndProject over the
  aggregate, never a full sort of the fact.
  ``BOTTOMCOUNT(<set>, <n>, [Measures].[M])`` is the ascending twin
  (same tie-break); cells absent from the aggregate (empty in MDX
  terms) don't exist to rank — Mondrian's BottomCount ranks empty
  cells first unless NON EMPTY intervenes, ours never fabricates
  them (the same non-empty invariant NON EMPTY documents below).
- ``TOPPERCENT(<set>, <pct>, [Measures].[M])`` /
  ``TOPSUM(<set>, <value>, [Measures].[M])`` on the rows axis — the
  Pareto cut ("the members making up 80% of volume"): sort the set
  descending by the measure and keep the SHORTEST PREFIX whose running
  total reaches ``pct`` percent of the set's total (TOPPERCENT) or the
  absolute ``value`` (TOPSUM), INCLUDING the member that crosses the
  threshold (Mondrian's contract). ``BOTTOMPERCENT`` / ``BOTTOMSUM``
  are the ascending twins. Ties break by the grouping columns
  ascending (the same deterministic divergence TOPCOUNT documents);
  thresholds must be positive, pct ≤ 100, both loud otherwise. The
  set's total is the total of the CURRENT set — an inner FILTER or an
  outer slicer changes it, exactly as in Mondrian. Executes as two
  window functions over the aggregated cells (running sum over the
  sort order + grand total) and one filter — group-count-many rows,
  never the fact; negative measure values make a running-prefix cut
  ill-defined, so any negative cell value raises at execution rather
  than serving a silently wrong prefix, and an all-zero percent cut
  keeps exactly its first member (the zero threshold is reached by
  the first running total — stop-at-crossing, never a silently empty
  set). Establishes the set's prevailing order like TOPCOUNT
  (HEAD/TAIL cut relative to it).
- ``ORDER(<set>, <measure-expr>[, ASC|DESC|BASC|BDESC])`` on the rows
  axis: a pure presentation sort of the aggregated cells by a (base
  or calculated) measure expression, grouping columns ascending as
  the deterministic tie-break, default ASC. The B-variants (break
  hierarchy) coincide with the plain ones here because a wrapped
  axis is always single-grain (the All-lattice refusal below), so
  there is no parent order to preserve or break. Sorts
  group-count-many aggregated rows, never the fact.
- ``FILTER(<set>, <condition>)`` on the rows axis: a post-aggregation
  HAVING. The condition is a BOOLEAN tree of comparisons (cmp in
  ``< <= > >= = <>``) composed with ``AND`` / ``OR`` and parentheses
  (AND binds tighter, the MDX/SQL convention; parens group booleans
  or arithmetic — ``(a + b) > c`` works too); each comparison's sides
  are calculated-member expressions, so ratios and composites filter.
  NOT is out of scope — rewrite with the inverse comparison.
- ``HEAD(<set>[, n])`` / ``TAIL(<set>[, n])`` on the rows axis (count
  defaults to 1, Mondrian's documented default; must be ≥ 1 — loud
  otherwise): the first/last n members of the inner set IN ITS OWN
  ORDER — over a bare set that is natural member order (the grouping
  columns ascending in axis order; ties impossible: grouping keys are
  unique by construction), and over an ORDER / TOPCOUNT / BOTTOMCOUNT
  inner set it is that set's established order (Mondrian Head/Tail
  preserve the given set order — FILTER passes the order through).
  Both return their rows in the set's order (TAIL does NOT present
  reversed). A TakeOrderedAndProject over the aggregate, like
  TopCount. All six wrappers nest (evaluated innermost-first).
- ``([Measures].[M], PARALLELPERIOD([Dim].[Level], k))`` tuples inside
  calculated-member / FILTER / ORDER expressions — time intelligence,
  the year-over-year and month-over-month gestures: the measure's
  value at the period ``k`` steps earlier. Supported at a hierarchy's
  TOP level (integer-keyed, on the rows axis; exact ``col - k``
  arithmetic) and ONE level below it when the child level declares a
  fixed cycle in ``CubeDef.period_lengths`` (a 1..12 month key: the
  shift linearizes as ``anio*12 + (mes-1) - k``, so January wraps to
  the prior December by plain integer arithmetic). Deeper levels have
  ragged cycles (days-per-month) — loud MdxError, as is any shift
  over an [(All)] lattice. Executes as a LEFT self-join of the
  AGGREGATE on shifted keys (cell×cell, broadcastable; never a second
  fact scan); when the shifted columns are themselves diced (rows
  member pick / slicer / sub-select on the time dimension) the join's
  right side is re-aggregated WITHOUT those dices — Mondrian
  evaluates the shifted tuple against the cube, not the axis
  selection, so a YoY member over ``{[Fecha].[Anio].[2025]}`` still
  finds 2024. A missing prior cell is NULL, which propagates through
  the expression — MDX empty-cell and SQL NULL arithmetic agree, so
  oracles are plain self-LEFT-JOINs.
- ``SUM(PERIODSTODATE([Dim].[Level]), [Measures].[M])`` inside
  calculated-member / FILTER / ORDER expressions — the running-total
  (YTD) gesture: the measure summed from the anchor member's first
  period to the current cell. Requires the anchor's chain AND at
  least one deeper level of the same declared hierarchy on the rows
  axis (the running-sum ordering); executes as a WINDOW over the
  aggregate's cells (partition by anchor chain + non-hierarchy
  grouping columns, order by the deeper levels, running sum) — the
  exact ``SUM() OVER (PARTITION BY .. ORDER BY ..)`` an analyst
  writes, cell×cell, never a second fact scan. Reads the CUBE like
  PARALLELPERIOD: a dice on the ordering columns recomputes the
  window over the undiced aggregation and joins it back, so
  ``{[Fecha].[Mes].[6]}`` with a YTD member still sums Jan–Jun.
  Argless ``YTD()`` is refused (it needs a blessed time dimension
  this subset does not fabricate).
- ``SUM/AVG(LASTPERIODS(n, [Dim].[Level].CurrentMember),
  [Measures].[M])`` — trailing-window rolling totals and moving
  averages: a RANGE window over the aggregate's cells ordered by the
  level's linearized period key (top level: the column itself; one
  below: ``anio*period + (mes-1)``, so a 3-month window crosses
  December→January arithmetically), partitioned by the grouping
  columns outside the hierarchy, frame ``n-1 PRECEDING..CURRENT
  ROW``. RANGE (not ROWS) makes calendar gaps behave like Mondrian's
  empty periods. Reads the CUBE: a dice on the level's chain columns
  recomputes the window over the undiced aggregation and joins it
  back.
- ``([Measures].[M], OPENINGPERIOD/CLOSINGPERIOD([Dim].[Level]))`` —
  the measure at the first/last PRESENT sibling period under the
  current cell's ancestor ("vs January", "vs year-end"):
  ``min_by/max_by`` over a window partitioned by the ancestor chain +
  non-hierarchy grouping columns. Value-keyed member semantics (an
  absent first month opens at the first present one). Reads the CUBE:
  a dice on the level's own column recomputes the boundary over the
  undiced aggregation.
- ``WITH MEMBER [Dim].[Level].[Name] AS 'AGGREGATE({members})'`` —
  calculated members ON DIMENSION LEVELS, the custom-group gesture
  every pivot tool exposes ("group PERU and ARGENTINA as 'Andes'"):
  the named members fold into one synthetic member wherever the group
  is referenced — rows axis (a pre-aggregation column remap, CASE IN
  → name, one Catalyst projection, correct for every aggregator
  because the RAW rows aggregate under the new key), slicer /
  sub-select (expands to the underlying member union), and named-set
  bodies. Ranges expand in the body; string-keyed single-column
  levels only; overlapping groups, a group shadowing its own member,
  combining a group with its level's ``.Members``/Children (Mondrian
  calculated members are not in .Members), EXCEPT over a group set,
  and groups inside compound-slicer tuples are all loud. The
  navigator treats group columns like any dice column — but refuses
  to route distinct-count queries with groups (merged cells would
  re-fold overlapping distinct sets).
- ``RANK([Dim].[Level].CurrentMember, [Dim].[Level].Members,
  [Measures].[M])`` inside calculated-member / FILTER / ORDER
  expressions — the league-table gesture ("1997's rank among all
  years by volume"): the cell's 1-based position among the level's
  members ordered by the measure DESCENDING, equal values sharing a
  rank (competition ranking — SQL ``RANK()``, which is the oracle
  shape). A window over the aggregate's cells partitioned by the
  grouping columns outside the level's chain. Reads the CUBE: the
  ``.Members`` set is the level's full member set, so chain dices
  recompute the rank over the undiced aggregation and join it back
  (a diced single year still reports its rank among ALL years);
  non-chain dices (slicers) stay applied. The 2-arg set-order form
  and cross-level set arguments are loud.
- ``EXCEPT(<set>, {members})`` on the rows axis (and in CROSSJOIN
  branches / named-set bodies): remove the named members of ONE level
  from the set. Over ``.Members`` (or a Children drill) it becomes a
  NOT-IN dice applied BEFORE aggregation — NULL-keyed members are
  real members and survive the exclusion; over an explicit member
  list it subtracts at parse time. Loud on mixed levels, on removing
  members of a level the set does not select, and on emptying the
  set.
- member RANGES ``[Dim].[Level].[a]:[Dim].[Level].[b]`` (the colon
  operator, integer-keyed levels): expanded to explicit members at
  parse time, so ranges work everywhere a member does — axis sets,
  named-set bodies, sub-selects — with zero execution machinery.
  Loud on mixed levels, non-integer keys, reversed bounds, absurd
  widths.
- ``WITH SET [Name] AS '<set>'`` named sets (quoted or bare body,
  definition-order scoping like calculated members): a bare
  ``[Name]`` reference anywhere a set is expected — the whole rows
  axis, a CROSSJOIN branch, or inside any wrapper — splices the
  declared set's AST at parse time; execution never knows sets were
  named, so filters/grouping/plan shape are identical to writing the
  set inline. Bodies may reference earlier-declared sets; wrapper
  functions inside a body raise (wrappers are rows-axis-only in this
  subset), and an unknown or twice-declared name is loud.
- the grand-total member ``[Dim].[(All)]`` (every reference hierarchy
  declares ``hasAll="true"``): a set mixing ``(All)`` with a level
  drilldown — ``{[Fecha].[(All)], [Fecha].[Anio].Members}`` — expands
  to GROUPING SETS (the level cells plus the all-member cell, NULL in
  the level column, Spark rollup convention); crossjoined All sets
  multiply into the grouping-set lattice, all in ONE Expand +
  HashAggregate pass (never a per-level re-scan). TOPCOUNT/FILTER
  over an All-lattice would rank/filter cells of MIXED grain — loud
  MdxError, never a silently grain-mixed answer.
- ``NON EMPTY`` on the rows axis — a DOCUMENTED no-op: groupBy only
  materializes non-empty cells, and every axis containing ``(All)``
  members — including the degenerate all-only axis — runs as GROUPING
  SETS, whose Expand + HashAggregate emits ZERO rows on empty input
  (the ``()`` grouping set is still a keyed group, unlike a global
  aggregate, so no fabricated All cell ever appears). NON EMPTY and
  its absence therefore coincide on every plan this translator can
  emit; pinned by tests/test_mdx.py::test_mdx_empty_input_emits_no_all_cell
- slicer tuple ``WHERE ([Dim].[Level].[member], ...)`` (equality
  filters applied BEFORE aggregation, Mondrian slicer semantics), and
  SET slicer ``WHERE {[m1], [m2], ...}`` — the multi-select gesture
  pivot clients emit: members of ONE level (ranges expand) OR together
  into one IN dice. Filtering rows to the union slice BEFORE
  aggregation is exactly Mondrian's aggregated-slicer answer for every
  aggregator this cube model has (count/sum/min/max trivially; avg
  because sum and count both come from the union's rows). The COMPOUND
  form ``WHERE {([mA], [mB]), ([mC], [mD])}`` — a set of TUPLES, what
  Excel emits when a user multi-selects across two filter fields —
  becomes an OR-of-ANDs row filter before aggregation (Mondrian's
  compound-slicer contract); every tuple must span the same levels,
  no level repeats inside a tuple, and one-column tuples degenerate
  to the plain IN dice. Time intelligence over a column a compound
  slicer filters is loud (the cube-context recompute cannot drop one
  leg of an OR). Mixed-level BARE slicer sets stay loud — tuples are
  the way to spell a cross-level multi-select.
  Member dices on the rows axis also filter before aggregation, so an
  All cell over a diced set totals the VISIBLE members (MDX
  ``VisualTotals`` semantics) — documented, deterministic, oracled.
- sub-selects ``FROM (SELECT <set> ON <axis>[, ...] FROM [Cube])`` —
  the slice-restriction shape pivot clients (Excel) emit: every
  explicit member in a sub-select axis restricts the cube slice
  BEFORE the outer query aggregates, regardless of which axis it sat
  on (axis placement in a sub-select is presentation-only);
  ``.Members`` and ``[(All)]`` items select everything and restrict
  nothing. Nested sub-selects compose (their filters AND together).
  A sub-select WHERE is one more restriction, AND-composed with the
  axis items (parsed like the outer slicer). Children drills and
  wrapper functions inside a sub-select raise.

``DIMENSION PROPERTIES`` on an axis (round 13): INTRINSIC properties
(MEMBER_CAPTION, MEMBER_UNIQUE_NAME, … — the decoration Excel emits on
nearly every drag-drop axis) parse and no-op, because the tabular
serve's member key columns already carry them; CUSTOM properties are a
loud MdxError (see _INTRINSIC_MEMBER_PROPERTIES).

Deliberately out of scope (the schema never exercises them):
``PARALLELPERIOD``/``LASTPERIODS`` anchored more than one level below
the hierarchy top (ragged cycles).

Execution model: the cube definition supplies a DENORMALIZED star
builder (broadcast dim joins — the same star the SQL serving path
registers) plus level→column and measure→aggregate mappings; the
translated query is one ``groupBy(levels).agg(measures)`` (one GROUPING
SETS aggregate when the axis carries ``(All)`` members) over the
slicer-filtered star. Time-intelligence members then attach to the
aggregate's cells as hidden columns, one per spec and measure, in the
fixed family order PARALLELPERIOD, PERIODSTODATE, LASTPERIODS,
OPENING/CLOSINGPERIOD, RANK (``_TI_FAMILIES``): a LEFT self-join on
shifted period keys for PARALLELPERIOD, a window over the cells for
the rest. When the axis dices a column a value moves along, the value
comes from a re-aggregation without those dices (one per dropped-dice
set, shared across specs), LEFT-joined back on the grouping keys.
After that come at most a projection (calculated members), HAVING
filters, sorts and top-n or Pareto cuts. At 100 TB that is exactly the
hand-written plan: slicer predicates push through the star's dim
joins, the fact shuffles once on the grouping keys, aggregates
partially combine map-side, the time-intelligence joins and windows
see group-count-many cells, and TopCount is a TakeOrderedAndProject
over group-count-many rows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class MdxError(ValueError):
    """Raised for MDX text outside the supported subset, or references
    to cubes/levels/measures/members the cube definition doesn't
    declare — loud, never a silent wrong answer."""


_AGG_FNS = {
    "count": F.count,
    # Mondrian's aggregator="distinct-count" (its XML spelling): exact
    # COUNT(DISTINCT col). On the fact path it is a plain two-phase
    # distinct aggregate; on the aggregate-table path it is special —
    # distinct counts are NOT mergeable across cells, so the navigator
    # serves them from a rollup only at EXACT grain (operators/aggnav)
    "distinct-count": F.count_distinct,
    # exact interpolated median (Spark's sort-based median = DuckDB's
    # median/quantile_cont(0.5), the oracle shape). The other
    # non-mergeable aggregator: two cells' medians don't combine, so
    # the navigator applies the same exact-grain rule; the mergeable
    # approximate alternative at any grain is the KLL sketch store
    # (operators/sketches.py)
    "median": F.median,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


@dataclass
class CubeDef:
    """A Mondrian-style cube declaration, Spark-side.

    ``levels`` maps ``"Dim.Level"`` (case-insensitive) to the star
    column that carries it; ``measures`` maps a measure name to an
    ``(aggregator, column, output_alias)`` triple with aggregator in
    {count, sum, avg, min, max, distinct-count, median} — the Mondrian
    ``aggregator=`` set the reference schema uses (count/avg) plus the
    obvious siblings, Mondrian's distinct-count, and an exact median
    (the two NON-mergeable aggregators share the navigator's
    exact-grain rule, operators/aggnav.py).

    ``hierarchies`` (optional) maps a dimension name to its ordered
    level-name list, top grain first (Mondrian ``<Hierarchy>`` order —
    the reference's Fecha declares Anio > Mes > Dia,
    Schema_Trabajo_Final.xml:2-13). When declared, a member of a child
    level is keyed by its ANCESTOR CHAIN: drilling ``[Fecha].[Mes]``
    groups by (anio_col, mes_col), never by the bare month (which
    would merge January 1997 with January 1998). A dimension absent
    from ``hierarchies`` keeps single-column member keys.
    """

    name: str
    star_builder: Callable[..., DataFrame]
    levels: dict[str, str] = field(default_factory=dict)
    measures: dict[str, tuple[str, str, str]] = field(default_factory=dict)
    hierarchies: dict[str, list[str]] = field(default_factory=dict)
    # "Dim.Level" -> fixed children-per-parent cycle length (a month level
    # declares 12). What makes a below-top PARALLELPERIOD shift computable:
    # (parent, child) linearizes to parent*period + (child-1) EXACTLY when
    # the child key cycles 1..period under every parent. Levels with ragged
    # cycles (days-per-month) must NOT declare one — the translator then
    # refuses the shift loudly instead of fabricating calendar arithmetic.
    period_lengths: dict[str, int] = field(default_factory=dict)
    # Registered aggregate tables (operators/aggnav.AggTable instances —
    # duck-typed here to avoid a module cycle). When non-empty, EVERY
    # front-door :func:`mdx_query` consults the navigator and answers
    # from the smallest covering rollup — Mondrian's actual deployment
    # shape (<AggName> declarations live on the schema, and ALL queries
    # route through the AggStar matcher), so a BI client needs no
    # special entry point to benefit. Routing is a pure optimization:
    # states are mergeable, same answer either way (the oracled face
    # mdx_aggregate_navigator pins fact-path/rollup-path hash equality).
    aggregates: list = field(default_factory=list)

    def has_dimension(self, dim: str) -> bool:
        d = dim.lower()
        return any(k.lower().split(".", 1)[0] == d for k in self.levels)

    def level_period(self, dim: str, level: str) -> int:
        key = f"{dim}.{level}".lower()
        for k, v in self.period_lengths.items():
            if k.lower() == key:
                return v
        raise MdxError(
            f"PARALLELPERIOD([{dim}].[{level}]) shifts below the "
            "hierarchy top, but the level declares no period length "
            "(CubeDef.period_lengths) — without a fixed cycle the "
            "wrap arithmetic would be fabricated"
        )

    def level_column(self, dim: str, level: str) -> str:
        key = f"{dim}.{level}".lower()
        for k, v in self.levels.items():
            if k.lower() == key:
                return v
        raise MdxError(
            f"unknown level [{dim}].[{level}] on cube [{self.name}]"
        )

    def level_chain(self, dim: str, level: str) -> list[str]:
        """Star columns keying a member of ``[dim].[level]``: the
        declared ancestor levels' columns (top grain first) plus the
        level's own column; just the level's column when the dimension
        declares no hierarchy. Loud on a level missing from its
        dimension's declared hierarchy — a cube-definition bug, never
        a silent single-column fallback."""
        for hdim, hlevels in self.hierarchies.items():
            if hdim.lower() != dim.lower():
                continue
            for i, lvl in enumerate(hlevels):
                if lvl.lower() == level.lower():
                    return [
                        self.level_column(dim, anc)
                        for anc in hlevels[: i + 1]
                    ]
            raise MdxError(
                f"level [{dim}].[{level}] is not in the declared "
                f"hierarchy {hlevels} on cube [{self.name}]"
            )
        return [self.level_column(dim, level)]

    def child_level(self, dim: str, level: str) -> str:
        """The level one below ``level`` in ``dim``'s declared
        hierarchy — what ``[member].Children`` drills to. Loud when the
        dimension has no declared hierarchy, the level is its leaf, or
        the level is NOT the hierarchy's top: a ``[Dim].[Level].[v]``
        path identifies a member by its leaf value alone, which is only
        unique at the top grain ([Fecha].[Mes].[6] names a DIFFERENT
        June per year — drilling it would silently merge children
        across ancestors, the exact bug hierarchy-aware keys exist to
        prevent)."""
        for hdim, hlevels in self.hierarchies.items():
            if hdim.lower() != dim.lower():
                continue
            for i, lvl in enumerate(hlevels):
                if lvl.lower() == level.lower():
                    if i > 0:
                        raise MdxError(
                            f"a member of [{dim}].[{level}] is "
                            "ambiguous without its ancestor chain — "
                            "Children is supported on the hierarchy's "
                            f"top level ([{dim}].[{hlevels[0]}]) only"
                        )
                    if i + 1 >= len(hlevels):
                        raise MdxError(
                            f"[{dim}].[{level}] is the leaf of its "
                            f"hierarchy — Children is empty by "
                            f"construction on cube [{self.name}]"
                        )
                    return hlevels[i + 1]
            raise MdxError(
                f"level [{dim}].[{level}] is not in the declared "
                f"hierarchy {hlevels} on cube [{self.name}]"
            )
        raise MdxError(
            f"Children needs a declared hierarchy for dimension "
            f"[{dim}] on cube [{self.name}]"
        )

    def descendant_level(self, dim: str, anchor: str, target: str) -> str:
        """Validate a ``DESCENDANTS([dim].[anchor].[m], [dim].[target])``
        drill and return the target level's canonical spelling. Same
        top-grain constraint as Children — a ``[Dim].[Level].[v]`` path
        names a member by its leaf value alone, unique only at the
        hierarchy top — but the target may sit ANY number of levels
        below the anchor (Children is the one-step special case)."""
        for hdim, hlevels in self.hierarchies.items():
            if hdim.lower() != dim.lower():
                continue
            lowers = [lvl.lower() for lvl in hlevels]
            if anchor.lower() not in lowers:
                raise MdxError(
                    f"level [{dim}].[{anchor}] is not in the declared "
                    f"hierarchy {hlevels} on cube [{self.name}]"
                )
            if target.lower() not in lowers:
                raise MdxError(
                    f"level [{dim}].[{target}] is not in the declared "
                    f"hierarchy {hlevels} on cube [{self.name}]"
                )
            if lowers.index(anchor.lower()) > 0:
                raise MdxError(
                    f"a member of [{dim}].[{anchor}] is ambiguous "
                    "without its ancestor chain — DESCENDANTS anchors "
                    f"on the hierarchy's top level ([{dim}]."
                    f"[{hlevels[0]}]) only"
                )
            # the target sits below the top-level anchor: parse_set
            # answers a target at the anchor's own level with the member
            return hlevels[lowers.index(target.lower())]
        raise MdxError(
            f"DESCENDANTS needs a declared hierarchy for dimension "
            f"[{dim}] on cube [{self.name}]"
        )

    def measure_def(self, name: str) -> tuple[str, str, str]:
        """The (aggregator, column, alias) triple of a measure, located
        case-insensitively — the ONE lookup every measure consumer
        (fact aggregation, alias resolution, aggregate-table states and
        re-aggregation) goes through, loud on unknown names."""
        for k, triple in self.measures.items():
            if k.lower() == name.lower():
                return triple
        raise MdxError(
            f"unknown measure [Measures].[{name}] on cube [{self.name}]"
        )

    def measure_agg(self, name: str):
        agg, col, alias = self.measure_def(name)
        fn = _AGG_FNS.get(agg)
        if fn is None:
            raise MdxError(f"unsupported aggregator {agg!r}")
        return fn(col).alias(alias)

    def measure_alias(self, name: str) -> str:
        return self.measure_def(name)[2]

    def has_measure(self, name: str) -> bool:
        return name.lower() in {k.lower() for k in self.measures}


def _calc_alias(name: str) -> str:
    """Deterministic output column for a calculated member: lowercase,
    non-alphanumerics collapsed to single underscores."""
    return re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "long")


def _coerce_members(source: DataFrame, col: str, vals: list[str]) -> list:
    """Member names arrive as bracketed TEXT; coerce them to the level
    COLUMN's type before filtering — by the schema, never by the
    member's spelling. ``[Fecha].[Anio].[1997]`` against an INT column
    becomes the exact predicate ``anio IN (1997)``; ``[Zona].[Codigo].
    [123]`` against a STRING column stays the string ``'123'`` (a
    spelling-based coercion would make Spark cast the whole column —
    an ANSI-mode runtime crash on any non-numeric value, and silent
    engine cast rules otherwise). A member that cannot coerce to a
    numeric level's type is a loud error: it could never match, and
    letting it through would silently drop the dice."""
    dtype = dict(source.dtypes).get(col, "")
    if dtype.startswith(_NUMERIC_PREFIXES):
        out = []
        for v in vals:
            if not re.fullmatch(r"-?\d+", str(v)):
                raise MdxError(
                    f"member [{v}] cannot match the numeric level "
                    f"column {col!r} ({dtype})"
                )
            out.append(int(v))
        return out
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        try:
            return [float(v) for v in vals]
        except ValueError as exc:
            raise MdxError(
                f"member {vals!r} cannot match the numeric level "
                f"column {col!r} ({dtype})"
            ) from exc
    return list(vals)


# -- tokenizer ---------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<seg>\[[^\]]*\])       # [bracketed segment]
      | (?P<quote>'[^']*')        # 'quoted calculated-member body'
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<op><=|>=|<>|[<>=+\-*/])
      | (?P<punct>[{}(),.:])
    )""",
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip():
                raise MdxError(f"unexpected character at: {text[pos:pos+20]!r}")
            break
        if m.group("seg") is not None:
            out.append(("seg", m.group("seg")[1:-1]))
        elif m.group("quote") is not None:
            out.append(("quote", m.group("quote")[1:-1]))
        elif m.group("num") is not None:
            out.append(("num", m.group("num")))
        elif m.group("word") is not None:
            out.append(("word", m.group("word")))
        elif m.group("op") is not None:
            out.append(("op", m.group("op")))
        else:
            out.append(("punct", m.group("punct")))
        pos = m.end()
    return out


# the period functions of a measure tuple
_PERIOD_FNS = ("PARALLELPERIOD", "OPENINGPERIOD", "CLOSINGPERIOD")
# rows-axis wrappers that cut the set by a measure: (tag, inner, n, measure)
_MEASURE_CUTS = (
    "topcount", "bottomcount",
    "toppercent", "bottompercent", "topsum", "bottomsum",
)


def _one_level(items, shape: str, who: str, why: str = ""):
    """Yield the segments of each explicit member in ``items``, loud on
    any other item (``shape``) or on members of a second level
    (``who`` must all belong to ONE level, ``why`` explains)."""
    level_key = None
    for segs, suffix in items:
        if len(segs) != 3 or suffix:
            raise MdxError(f"{shape}, got {segs}")
        key = (segs[0].lower(), segs[1].lower())
        if level_key is None:
            level_key = key
        elif key != level_key:
            raise MdxError(
                f"{who} must all belong to ONE level, got both "
                f"{level_key} and {key}{why}"
            )
        yield segs


def _custom_group(custom_members: dict, segs) -> tuple | None:
    """The (display name, underlying members) of the declared custom
    AGGREGATE member ``[Dim].[Level].[Name]`` names, else None."""
    key = (segs[0].lower(), segs[1].lower())
    return custom_members.get(key, {}).get(segs[2].lower())


def _members_of(custom_members: dict, segs) -> list[str]:
    """A member reference's filter values: a custom AGGREGATE member's
    underlying members, else the member value itself."""
    cm = _custom_group(custom_members, segs)
    return list(cm[1]) if cm is not None else [segs[2]]


class _Parser:
    def __init__(
        self,
        tokens: list[tuple[str, str]],
        named_sets: dict[str, list] | None = None,
        custom_members: dict | None = None,
    ):
        self.toks = tokens
        self.i = 0
        # lower-cased name → parsed set node list (WITH SET declarations);
        # shared with sub-parsers of quoted bodies so earlier sets are
        # referencable from later ones (Mondrian definition-order scoping)
        self.named_sets = named_sets if named_sets is not None else {}
        # (dim_lower, level_lower) → {name_lower: (display_name,
        # [underlying member values])} — WITH MEMBER [Dim].[Level].[X]
        # AS 'AGGREGATE({...})' custom-group declarations
        self.custom_members = (
            custom_members if custom_members is not None else {}
        )

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect_word(self, word: str):
        kind, val = self.next()
        if kind != "word" or val.upper() != word.upper():
            raise MdxError(f"expected {word!r}, got {val!r}")

    def expect_punct(self, p: str):
        kind, val = self.next()
        if kind != "punct" or val != p:
            raise MdxError(f"expected {p!r}, got {val!r}")

    # member path: [Seg].[Seg](.[Seg] | .Members | .Children)*
    def member_path(self):
        kind, val = self.next()
        if kind != "seg":
            raise MdxError(f"expected [segment], got {val!r}")
        segs, suffix = [val], None
        while self.peek() == ("punct", "."):
            self.next()
            kind, val = self.next()
            if kind == "seg":
                segs.append(val)
            elif kind == "word" and val.upper() == "MEMBERS":
                suffix = "members"
                break
            elif kind == "word" and val.upper() == "CHILDREN":
                suffix = "children"
                break
            elif kind == "word" and val.upper() == "CURRENTMEMBER":
                suffix = "currentmember"
                break
            else:
                raise MdxError(
                    f"expected [segment], Members, Children or "
                    f"CurrentMember, got {val!r}"
                )
        return segs, suffix

    def _expand_member_range(self, first):
        """``[Dim].[Level].[a] : [Dim].[Level].[b]`` — the colon range
        operator over an integer-keyed level (the year-span gesture,
        ``{[Fecha].[Anio].[1996]:[Fecha].[Anio].[1999]}``). Expands to
        explicit members AT PARSE TIME, so ranges work everywhere a
        member does (axis sets, named sets, sub-selects) with zero new
        execution machinery. Loud on mixed levels, non-integer keys,
        reversed bounds, and absurd widths — never a silent empty set."""
        segs1, suffix1 = first
        self.next()  # ':'
        segs2, suffix2 = self.member_path()
        if (
            suffix1
            or suffix2
            or len(segs1) != 3
            or len(segs2) != 3
            or [s.lower() for s in segs1[:2]] != [s.lower() for s in segs2[:2]]
        ):
            raise MdxError(
                "a member range needs [Dim].[Level].[a]:[Dim].[Level].[b] "
                f"on ONE level, got {segs1}:{segs2}"
            )
        if not (
            re.fullmatch(r"-?\d+", segs1[2]) and re.fullmatch(r"-?\d+", segs2[2])
        ):
            raise MdxError(
                "member ranges are supported for integer-keyed members "
                f"only, got [{segs1[2]}]:[{segs2[2]}]"
            )
        a, b = int(segs1[2]), int(segs2[2])
        if b < a:
            raise MdxError(
                f"member range is reversed: [{a}]:[{b}] — write the "
                "smaller member first"
            )
        if b - a >= 10_000:
            raise MdxError(
                f"member range [{a}]:[{b}] expands to {b - a + 1} "
                "members — not a plausible level range"
            )
        return [(segs1[:2] + [str(v)], None) for v in range(a, b + 1)]

    def member_or_range(self) -> list:
        """One set item: a member path, or the members of an ``a:b``
        range."""
        m = self.member_path()
        if self.peek() == ("punct", ":"):
            return self._expand_member_range(m)
        return [m]

    def member_tuple(self, what: str):
        """``( [Dim].[Level].[member], ... )``: yields each member's
        segments as it parses (``what`` names them in the error)."""
        self.expect_punct("(")
        while True:
            segs, suffix = self.member_path()
            if len(segs) != 3 or suffix:
                raise MdxError(
                    f"{what} must be [Dim].[Level].[member], got {segs}"
                )
            yield segs
            if self.peek() != ("punct", ","):
                break
            self.next()
        self.expect_punct(")")

    def as_body(self, what: str, parse: Callable):
        """``AS <body>``, the body quoted (classic Mondrian) or bare:
        ``parse`` reads it from a sub-parser over the quoted text, which
        must hold nothing else, or from this parser. Named sets and
        custom groups declared so far stay visible (definition-order
        scoping)."""
        self.expect_word("AS")
        kind, val = self.peek()
        if kind != "quote":
            return parse(self)
        self.next()
        sub = _Parser(_tokenize(val), self.named_sets, self.custom_members)
        out = parse(sub)
        if sub.peek()[0] != "eof":
            raise MdxError(
                f"trailing tokens in {what} body from {sub.peek()[1]!r}"
            )
        return out

    def measure_ref(self) -> str:
        """A [Measures].[Name] path; returns Name."""
        segs, suffix = self.member_path()
        if len(segs) != 2 or segs[0].lower() != "measures" or suffix:
            raise MdxError(
                f"expected a [Measures].[Name] reference, got {segs}"
            )
        return segs[1]

    # calculated-member / FILTER arithmetic --------------------------------
    # expr := term (('+'|'-') term)* ; term := unary (('*'|'/') unary)*
    # unary := '-' unary | num | '(' expr ')' | [Measures].[Name]
    def calc_expr(self):
        node = self._calc_term()
        while self.peek()[0] == "op" and self.peek()[1] in "+-":
            op = self.next()[1]
            node = ("bin", op, node, self._calc_term())
        return node

    def _calc_term(self):
        node = self._calc_unary()
        while self.peek()[0] == "op" and self.peek()[1] in "*/":
            op = self.next()[1]
            node = ("bin", op, node, self._calc_unary())
        return node

    def _calc_unary(self):
        kind, val = self.peek()
        if kind == "op" and val == "-":
            self.next()
            return ("neg", self._calc_unary())
        if kind == "num":
            self.next()
            return ("num", float(val) if "." in val else int(val))
        if kind == "punct" and val == "(":
            self.next()
            # a time-intelligence tuple pairs a [Measures] reference with
            # PARALLELPERIOD/OPENINGPERIOD/CLOSINGPERIOD(...); Mondrian
            # accepts either member order
            pk, pv = self.peek()
            if pk == "word" and pv.upper() in _PERIOD_FNS:
                family, dim, level, params = self._period_fn()
                self.expect_punct(",")
                measure = self.measure_ref()
            else:
                node = self.calc_expr()
                if self.peek() != ("punct", ","):
                    self.expect_punct(")")
                    return node
                if node[0] != "ref":
                    raise MdxError(
                        "a tuple must pair a [Measures] reference with "
                        "PARALLELPERIOD/OPENINGPERIOD/CLOSINGPERIOD(...)"
                    )
                self.next()
                family, dim, level, params = self._period_fn()
                measure = node[1]
            self.expect_punct(")")
            return ("ti", family, measure, dim, level, params)
        if kind == "word" and val.upper() in ("SUM", "AVG"):
            # SUM(PERIODSTODATE([Dim].[Level]), [Measures].[M]) — the
            # running-total (YTD) shape (argless YTD() would need a
            # blessed time dimension this subset does not fabricate) —
            # and SUM/AVG(LASTPERIODS(n, [Dim].[Level].CurrentMember),
            # [Measures].[M]) — the trailing-window (rolling) shape.
            outer = val.lower()
            self.next()
            self.expect_punct("(")
            k2, v2 = self.peek()
            if k2 == "word" and v2.upper() == "PERIODSTODATE":
                if outer != "sum":
                    raise MdxError(
                        "PERIODSTODATE composes with SUM only in this "
                        f"subset, not {outer.upper()}"
                    )
                self.next()
                self.expect_punct("(")
                dim, level = self._level_ref("PERIODSTODATE")
                self.expect_punct(")")
                self.expect_punct(",")
                measure = self.measure_ref()
                self.expect_punct(")")
                return ("ti", "ptd", measure, dim, level, ())
            if k2 == "word" and v2.upper() == "LASTPERIODS":
                self.next()
                self.expect_punct("(")
                n = self._positive_int("LASTPERIODS count")
                self.expect_punct(",")
                segs, suffix = self.member_path()
                if len(segs) != 2 or suffix != "currentmember":
                    raise MdxError(
                        "LASTPERIODS needs [Dim].[Level].CurrentMember, "
                        f"got {segs}"
                    )
                self.expect_punct(")")
                self.expect_punct(",")
                measure = self.measure_ref()
                self.expect_punct(")")
                return ("ti", "lp", measure, segs[0], segs[1], (n, outer))
            raise MdxError(
                f"{outer.upper()}(...) takes PERIODSTODATE(...) or "
                f"LASTPERIODS(...) as its set argument, got {v2!r}"
            )
        if kind == "word" and val.upper() == "RANK":
            # RANK([Dim].[Level].CurrentMember, [Dim].[Level].Members,
            # [Measures].[M]) — Mondrian's 3-arg Rank: the cell's
            # 1-based position among the level's members ordered by
            # the measure DESCENDING; equal values share a rank
            # (competition ranking — exactly SQL RANK()). The 2-arg
            # form (position in set order) is outside the subset and
            # fails loudly at the missing third argument.
            self.next()
            self.expect_punct("(")
            segs, suffix = self.member_path()
            if len(segs) != 2 or suffix != "currentmember":
                raise MdxError(
                    "RANK's first argument must be "
                    f"[Dim].[Level].CurrentMember, got {segs}"
                )
            self.expect_punct(",")
            msegs, msuffix = self.member_path()
            if (
                [s.lower() for s in msegs] != [s.lower() for s in segs]
                or msuffix != "members"
            ):
                raise MdxError(
                    "RANK's set must be the SAME level's .Members "
                    f"([{segs[0]}].[{segs[1]}].Members), got {msegs}"
                )
            self.expect_punct(",")
            measure = self.measure_ref()
            self.expect_punct(")")
            return ("ti", "rank", measure, segs[0], segs[1], ())
        if kind == "seg":
            return ("ref", self.measure_ref())
        raise MdxError(f"expected a measure expression, got {val!r}")

    def _positive_int(self, what: str) -> int:
        nkind, nval = self.next()
        if nkind != "num" or "." in nval or int(nval) < 1:
            raise MdxError(
                f"{what} must be a positive integer, got {nval!r}"
            )
        return int(nval)

    def _level_ref(self, fn: str) -> tuple[str, str]:
        """The ``[Dim].[Level]`` argument of ``fn``."""
        segs, suffix = self.member_path()
        if len(segs) != 2 or suffix:
            raise MdxError(
                f"{fn} needs a [Dim].[Level] reference, got {segs}"
            )
        return segs[0], segs[1]

    def _period_fn(self) -> tuple[str, str, str, tuple]:
        """The period half of a measure tuple, ``PARALLELPERIOD(
        [Dim].[Level], k)`` or ``OPENINGPERIOD/CLOSINGPERIOD(
        [Dim].[Level])``, as (family, dim, level, params)."""
        kind, val = self.next()
        fn = val.upper() if kind == "word" else ""
        if fn not in _PERIOD_FNS:
            raise MdxError(
                "expected PARALLELPERIOD, OPENINGPERIOD or "
                f"CLOSINGPERIOD in the tuple, got {val!r}"
            )
        self.expect_punct("(")
        if fn == "PARALLELPERIOD":
            dim, level = self._level_ref(fn)
            self.expect_punct(",")
            lag = self._positive_int("PARALLELPERIOD lag")
            self.expect_punct(")")
            return "pp", dim, level, (lag,)
        dim, level = self._level_ref("OPENINGPERIOD/CLOSINGPERIOD")
        self.expect_punct(")")
        return "bp", dim, level, (fn,)

    # set := '{' path (',' path)* '}' | CROSSJOIN '(' set ',' set ')'
    #      | [NamedSet]
    def parse_set(self):
        kind, val = self.peek()
        if kind == "word" and val.upper() == "EXCEPT":
            # EXCEPT(<set>, {explicit members of ONE level}) — remove
            # the named members from the set. The exclusion merges into
            # the set's item list as ("not"-suffixed) members; the axis
            # flattener turns them into NOT-IN dices (or subtracts them
            # from an explicit member list at parse time).
            self.next()
            self.expect_punct("(")
            base = self.parse_set()
            self.expect_punct(",")
            excl = self.parse_set()
            self.expect_punct(")")
            if len(base) != 1 or base[0][0] != "set":
                raise MdxError(
                    "EXCEPT's first argument must be a plain member set "
                    "— not a CROSSJOIN (apply EXCEPT to the branch "
                    "instead)"
                )
            if len(excl) != 1 or excl[0][0] != "set":
                raise MdxError(
                    "EXCEPT's second argument must be a plain member set"
                )
            not_items = [
                (segs, "not")
                for segs in _one_level(
                    excl[0][1],
                    "EXCEPT removes explicit [Dim].[Level].[member] "
                    "members only",
                    "EXCEPT's removed members",
                )
            ]
            return [("set", list(base[0][1]) + not_items)]
        if kind == "word" and val.upper() == "CROSSJOIN":
            self.next()
            self.expect_punct("(")
            left = self.parse_set()
            self.expect_punct(",")
            right = self.parse_set()
            self.expect_punct(")")
            return [("crossjoin", left, right)]
        if kind == "word" and val.upper() == "DESCENDANTS":
            # DESCENDANTS([Dim].[Level].[m], [Dim].[TargetLevel]) —
            # the members of the target level under the anchor member
            # (Children generalized to any deeper level). Carried as a
            # 4-segment "descendants" item; the axis flattener groups
            # by the target's ancestor chain diced to the anchor.
            self.next()
            self.expect_punct("(")
            segs, suffix = self.member_path()
            if len(segs) != 3 or suffix:
                raise MdxError(
                    "DESCENDANTS needs a [Dim].[Level].[member] "
                    f"anchor, got {segs}"
                )
            self.expect_punct(",")
            tsegs, tsuffix = self.member_path()
            if len(tsegs) != 2 or tsuffix:
                raise MdxError(
                    "DESCENDANTS target must be a [Dim].[Level] "
                    f"reference, got {tsegs}"
                )
            if tsegs[0].lower() != segs[0].lower():
                raise MdxError(
                    f"DESCENDANTS target [{tsegs[0]}].[{tsegs[1]}] "
                    f"must belong to the anchor's dimension [{segs[0]}]"
                )
            if self.peek() == ("punct", ","):
                raise MdxError(
                    "DESCENDANTS flags (SELF_AND_BEFORE, LEAVES, ...) "
                    "are outside the supported subset — the default "
                    "members-AT-the-target-level form only"
                )
            self.expect_punct(")")
            if tsegs[1].lower() == segs[1].lower():
                # Descendants(m, m's own level) is {m} itself (the
                # default SELF flag at the anchor's level)
                return [("set", [(segs, None)])]
            return [("set", [(segs + [tsegs[1]], "descendants")])]
        if kind == "word" and val.upper() in (
            "TOPCOUNT", "BOTTOMCOUNT", "ORDER", "FILTER", "HEAD", "TAIL",
            "TOPPERCENT", "BOTTOMPERCENT", "TOPSUM", "BOTTOMSUM",
        ):
            raise MdxError(
                f"{val.upper()} may only wrap the whole rows axis, not "
                "a CROSSJOIN branch or nested set"
            )
        if kind == "seg":
            # a bare [Name] where a set is expected: a WITH SET reference
            # (node splice — the declaration parsed once, the reference
            # reuses its AST; execution never knows sets were named)
            segs, suffix = self.member_path()
            if len(segs) == 1 and not suffix:
                nodes = self.named_sets.get(segs[0].lower())
                if nodes is None:
                    raise MdxError(
                        f"unknown named set [{segs[0]}] — sets must be "
                        "declared WITH SET before use"
                    )
                return nodes
            raise MdxError(
                "expected a set: {members...}, CROSSJOIN(...), or a "
                f"[NamedSet] reference — got {segs}"
            )
        self.expect_punct("{")
        items = self.member_or_range()
        while self.peek() == ("punct", ","):
            self.next()
            items.extend(self.member_or_range())
        self.expect_punct("}")
        return [("set", items)]

    # rows axis := TOPCOUNT '(' rows ',' n ',' measure ')'
    #            | BOTTOMCOUNT '(' rows ',' n ',' measure ')'
    #            | TOPPERCENT/BOTTOMPERCENT '(' rows ',' pct ',' measure ')'
    #            | TOPSUM/BOTTOMSUM '(' rows ',' value ',' measure ')'
    #            | ORDER '(' rows ',' expr [',' direction] ')'
    #            | FILTER '(' rows ',' expr cmp expr ')'
    #            | HEAD '(' rows [',' n] ')' | TAIL '(' rows [',' n] ')'
    #            | set
    def parse_rows_axis(self):
        kind, val = self.peek()
        if kind == "word" and val.upper() in ("HEAD", "TAIL"):
            tag = val.lower()
            self.next()
            self.expect_punct("(")
            inner = self.parse_rows_axis()
            n = 1  # Mondrian's documented default count
            if self.peek() == ("punct", ","):
                self.next()
                n = self._positive_int(f"{tag.upper()} count")
            self.expect_punct(")")
            return (tag, inner, n)
        if kind == "word" and val.upper() in ("TOPCOUNT", "BOTTOMCOUNT"):
            tag = val.lower()
            self.next()
            self.expect_punct("(")
            inner = self.parse_rows_axis()
            self.expect_punct(",")
            n = self._positive_int(f"{tag.upper()} count")
            self.expect_punct(",")
            measure = self.measure_ref()
            self.expect_punct(")")
            return (tag, inner, n, measure)
        if kind == "word" and val.upper() in (
            "TOPPERCENT", "BOTTOMPERCENT", "TOPSUM", "BOTTOMSUM"
        ):
            tag = val.lower()
            self.next()
            self.expect_punct("(")
            inner = self.parse_rows_axis()
            self.expect_punct(",")
            nkind, nval = self.next()
            if nkind != "num" or float(nval) <= 0:
                raise MdxError(
                    f"{tag.upper()} threshold must be a positive "
                    f"number, got {nval!r}"
                )
            threshold = float(nval)
            if tag.endswith("percent") and threshold > 100:
                raise MdxError(
                    f"{tag.upper()} percentage must be <= 100, "
                    f"got {nval!r}"
                )
            self.expect_punct(",")
            measure = self.measure_ref()
            self.expect_punct(")")
            return (tag, inner, threshold, measure)
        if kind == "word" and val.upper() == "ORDER":
            self.next()
            self.expect_punct("(")
            inner = self.parse_rows_axis()
            self.expect_punct(",")
            expr = self.calc_expr()
            desc = False
            if self.peek() == ("punct", ","):
                self.next()
                dkind, dval = self.next()
                if dkind != "word" or dval.upper() not in (
                    "ASC", "DESC", "BASC", "BDESC"
                ):
                    raise MdxError(
                        "ORDER direction must be ASC, DESC, BASC or "
                        f"BDESC, got {dval!r}"
                    )
                desc = dval.upper() in ("DESC", "BDESC")
            self.expect_punct(")")
            return ("order", inner, expr, desc)
        if kind == "word" and val.upper() == "FILTER":
            self.next()
            self.expect_punct("(")
            inner = self.parse_rows_axis()
            self.expect_punct(",")
            cond = self._filter_cond()
            self.expect_punct(")")
            return ("filter", inner, cond)
        return ("nodes", self.parse_set())

    # FILTER condition := and-term (OR and-term)*
    #   and-term      := factor (AND factor)*
    #   factor        := '(' condition ')' | expr cmp expr
    # AND binds tighter than OR (the MDX/SQL convention); NOT is out
    # of scope (rewrite with the inverse comparison).
    def _filter_cond(self):
        node = self._filter_and()
        while self.peek()[0] == "word" and self.peek()[1].upper() == "OR":
            self.next()
            node = ("or", node, self._filter_and())
        return node

    def _filter_and(self):
        node = self._filter_factor()
        while self.peek()[0] == "word" and self.peek()[1].upper() == "AND":
            self.next()
            node = ("and", node, self._filter_factor())
        return node

    def _filter_factor(self):
        if self.peek() == ("punct", "("):
            # a paren may open a BOOLEAN group or an ARITHMETIC
            # sub-expression ("(a + b) > c") — try the boolean read,
            # backtrack to the comparison read if it isn't one
            save = self.i
            self.next()
            try:
                node = self._filter_cond()
                self.expect_punct(")")
                return node
            except MdxError:
                self.i = save
        left = self.calc_expr()
        okind, oval = self.next()
        if okind != "op" or oval not in ("<", "<=", ">", ">=", "=", "<>"):
            raise MdxError(
                f"expected a comparison operator, got {oval!r}"
            )
        right = self.calc_expr()
        return ("cmp", oval, left, right)


def _rec(display: tuple) -> dict:
    """Fresh per-level selection record for _rows_axis's by_level map —
    ONE factory so a new field cannot be added to some branches and
    missed in others (a miss is a KeyError only on the set shape that
    hits the stale branch)."""
    return {
        "members": False, "vals": [], "parents": {}, "excl": [],
        "groups": [], "display": display,
    }


def _set_nodes(nodes):
    """The item lists of a set AST's member sets, CROSSJOIN branches
    left first."""
    for node in nodes:
        if node[0] == "crossjoin":
            yield from _set_nodes(node[1])
            yield from _set_nodes(node[2])
        else:
            yield node[1]


def _all_member(segs, suffix, cube: CubeDef, where: str = "") -> bool:
    """Whether a set item is the hasAll grand-total member,
    hierarchy-qualified ([Dim].[(All)]) or level-qualified
    ([Dim].[Level].[(All)]). Its path must exist: [Nope].[(All)] and
    [Fecha].[NoLevel].[(All)] are typos, not no-ops."""
    if suffix or segs[-1].lower() != "(all)" or len(segs) not in (2, 3):
        return False
    if len(segs) == 3:
        cube.level_column(segs[0], segs[1])
    elif not cube.has_dimension(segs[0]):
        raise MdxError(
            f"unknown dimension [{segs[0]}]{where} on cube [{cube.name}]"
        )
    return True


def _refuse_custom_anchor(custom_members: dict, segs, fn: str) -> None:
    """A custom AGGREGATE member has no position in the hierarchy, so
    drilling it (Children/DESCENDANTS) would dice the parent column by
    the synthetic name — a silent empty result. Loud instead."""
    if _custom_group(custom_members, segs) is not None:
        raise MdxError(
            f"custom AGGREGATE member [{segs[2]}] cannot anchor a "
            f"{fn} drill — it is not a hierarchy member; drill its "
            "underlying members instead"
        )


def _rows_axis(node_list, cube: CubeDef, custom_members: dict):
    """Flatten the rows-axis set AST into (group_columns,
    member_filters, grouping_alternatives): every crossjoin branch and
    set item contributes its level's column; explicit member sets
    additionally contribute an IN filter; an ``[Dim].[(All)]`` item
    makes the set's columns OPTIONAL — each set yields its list of
    grouping alternatives ([cols] alone, or [cols] plus [] when All is
    present), and the crossjoin product of alternatives is the
    grouping-set lattice the query answers. An explicit member naming
    a declared custom AGGREGATE group contributes its UNDERLYING
    members to the dice and a (name, values) remap entry instead."""
    group_cols: list[str] = []
    filters: dict[str, list] = {}
    excludes: dict[str, list] = {}
    custom_groups: dict[str, list] = {}
    alternatives: list[list[list[str]]] = []

    for items in _set_nodes(node_list):
        # per level: explicit members, whether .Members appeared (a
        # set is a UNION — .Members absorbs any explicit member of
        # the same level, so the dice filter must then be dropped),
        # and Children drills that land on the level (keyed by
        # parent column → parent members).
        # keyed case-insensitively (like every other member lookup);
        # each record remembers its first-seen display spelling
        by_level: dict[tuple[str, str], dict] = {}
        has_all = False
        for segs, suffix in items:
            if _all_member(segs, suffix, cube):
                has_all = True
            elif len(segs) == 2 and suffix == "members":
                by_level.setdefault(
                    (segs[0].lower(), segs[1].lower()),
                    _rec((segs[0], segs[1])),
                )["members"] = True
            elif (len(segs), suffix) in ((3, "children"), (4, "descendants")):
                # [Dim].[Level].[member].Children → the next level of the
                # declared hierarchy, diced to the parent;
                # DESCENDANTS(anchor member, target level) → the target
                # level's ancestor chain, diced to the anchor (any depth)
                if suffix == "children":
                    _refuse_custom_anchor(custom_members, segs, "Children")
                    child = cube.child_level(segs[0], segs[1])
                else:
                    _refuse_custom_anchor(custom_members, segs, "DESCENDANTS")
                    child = cube.descendant_level(segs[0], segs[1], segs[3])
                rec = by_level.setdefault(
                    (segs[0].lower(), child.lower()),
                    _rec((segs[0], child)),
                )
                parent_col = cube.level_column(segs[0], segs[1])
                rec["parents"].setdefault(parent_col, []).append(
                    segs[2]
                )
            elif len(segs) == 3 and not suffix:
                rec = by_level.setdefault(
                    (segs[0].lower(), segs[1].lower()),
                    _rec((segs[0], segs[1])),
                )
                cm = _custom_group(custom_members, segs)
                if cm is not None:
                    rec["groups"].append(cm)
                else:
                    rec["vals"].append(segs[2])
            elif len(segs) == 3 and suffix == "not":
                # an EXCEPT-removed member of this level
                by_level.setdefault(
                    (segs[0].lower(), segs[1].lower()),
                    _rec((segs[0], segs[1])),
                )["excl"].append(segs[2])
            else:
                raise MdxError(
                    "rows axis items must be [Dim].[Level].Members, "
                    "[Dim].[Level].[member](.Children) or "
                    f"[Dim].[(All)], got {segs}"
                )
        set_cols: list[str] = []
        for _key, sel in by_level.items():
            dim, level = sel["display"]
            if sel["excl"] and not (
                sel["members"] or sel["vals"] or sel["parents"]
            ):
                raise MdxError(
                    f"EXCEPT removes members of [{dim}].[{level}], "
                    "a level the set does not select"
                )
            # hierarchy-aware member key: the level's ancestor-chain
            # columns (single column when no hierarchy is declared)
            chain = cube.level_chain(dim, level)
            for col in chain:
                if col in group_cols:
                    # the same Mondrian error: a hierarchy may appear
                    # in only one axis set — a duplicate (including a
                    # child level whose ancestor chain overlaps a
                    # level already selected) would emit duplicated
                    # grouping columns (doubled rows)
                    raise MdxError(
                        f"level [{dim}].[{level}] (chain {chain}) "
                        "overlaps a level already on the rows axis"
                    )
                set_cols.append(col)
                group_cols.append(col)
            if sel["vals"] and sel["parents"]:
                # {[Anio].[1997].Children, [Mes].[6]} is a UNION of
                # months-of-1997 with month-6-of-all-years — not a
                # conjunction of column filters; refuse loudly
                # rather than dice to their intersection.
                raise MdxError(
                    f"set mixes a Children/DESCENDANTS drill into "
                    f"[{dim}].[{level}] with an explicit member "
                    "dice of the same level — a union this "
                    "translator cannot express as filters"
                )
            groups = sel["groups"]
            if groups:
                if sel["members"] or sel["parents"]:
                    # Mondrian calculated members are NOT in
                    # .Members — showing both every real member AND
                    # the group would need the underlying rows
                    # twice, which a single column remap cannot do
                    raise MdxError(
                        f"a custom AGGREGATE member of [{dim}]."
                        f"[{level}] cannot combine with that "
                        "level's .Members or a Children drill — "
                        "the underlying rows would have to appear "
                        "in two members at once"
                    )
                if sel["excl"]:
                    raise MdxError(
                        "EXCEPT over a set containing custom "
                        "AGGREGATE members is not supported"
                    )
                under = {
                    v for _disp, gvals in groups for v in gvals
                }
                for v in sel["vals"]:
                    if v in under:
                        raise MdxError(
                            f"member [{v}] appears both bare and "
                            "inside a custom AGGREGATE member — "
                            "its rows cannot be in two members at "
                            "once"
                        )
                filters.setdefault(chain[-1], []).extend(
                    sorted(under)
                )
                custom_groups.setdefault(chain[-1], []).extend(
                    groups
                )
            excl = sel["excl"]
            if sel["members"]:
                # .Members is the whole level: it absorbs explicit
                # dices and Children restrictions — but EXCEPT still
                # removes its named members (a NOT-IN dice)
                if excl:
                    excludes.setdefault(chain[-1], []).extend(excl)
                continue
            vals = sel["vals"]
            if excl and vals:
                # EXCEPT over an explicit member list subtracts at
                # parse time (exact member-name matching)
                vals = [v for v in vals if v not in set(excl)]
                if not vals:
                    raise MdxError(
                        f"EXCEPT removed every member of "
                        f"[{dim}].[{level}] — an empty set"
                    )
            elif excl:
                # Children drill minus named children: NOT-IN dice
                excludes.setdefault(chain[-1], []).extend(excl)
            if vals:
                # the dice filters on the level's OWN column; its
                # ancestors stay grouping-only (visual totals per
                # ancestor cell)
                filters.setdefault(chain[-1], []).extend(vals)
            for parent_col, parent_vals in sel["parents"].items():
                filters.setdefault(parent_col, []).extend(parent_vals)
        opts = [set_cols]
        if has_all and set_cols:
            opts.append([])
        alternatives.append(opts)
    return group_cols, filters, excludes, alternatives, custom_groups


@dataclass
class MdxSelect:
    """A parsed MDX SELECT: what :func:`mdx_query` executes.

    ``columns`` preserves COLUMNS-axis order; each name is a base
    measure or a key of ``calc_members`` (ordered definition ASTs).
    ``wrappers`` lists rows-axis TOPCOUNT/FILTER nodes outermost-first
    (execution applies them innermost-first). The five restriction
    fields are read through :meth:`dices` only."""

    columns: list[str]
    calc_members: dict[str, tuple]
    group_cols: list[str]
    member_filters: dict[str, list]
    # col -> member values an EXCEPT removed: NOT-IN dices, applied
    # BEFORE aggregation like every other dice (NULL-keyed members are
    # kept — excluding [B] never drops the NULL member)
    exclude_filters: dict[str, list]
    slicer_filters: dict[str, list]
    grouping_sets: list[list[str]]
    wrappers: list[tuple]
    # a COMPOUND (tuple-set) slicer — WHERE {(m, m2), (m3, m4)}: a list
    # of tuples, each a list of (column, member) equality terms; rows
    # matching ANY tuple survive (OR of ANDs, applied BEFORE
    # aggregation — Mondrian's compound-slicer contract). Empty when
    # the slicer is a plain tuple or single-level set.
    slicer_disjunction: list = field(default_factory=list)
    # WITH MEMBER [Dim].[Level].[Name] AS 'AGGREGATE({...})' custom
    # groups referenced on the rows axis: column → [(display_name,
    # [underlying values])]. Executed as a pre-aggregation column
    # remap (CASE IN → name) after the dice filters.
    custom_groups: dict = field(default_factory=dict)
    # (column, members) entries from FROM (SELECT ...) sub-selects,
    # outermost-last; each is an independent IN filter (two entries on
    # the same column AND together — nested sub-select intersection)
    subselect_filters: list = field(default_factory=list)

    def dices(self) -> list[Dice]:
        """The restrictions applied BEFORE aggregation, in application
        order: sub-select, slicer and rows-axis IN dices, the EXCEPT
        NOT-IN dices, then the compound slicer."""
        out = [Dice((c,), v, "in", True) for c, v in self.subselect_filters]
        out += [
            Dice((c,), v, "in")
            for c, v in (
                *self.slicer_filters.items(), *self.member_filters.items()
            )
        ]
        out += [
            Dice((c,), v, "except") for c, v in self.exclude_filters.items()
        ]
        if self.slicer_disjunction:
            cols = dict.fromkeys(
                c for terms in self.slicer_disjunction for c, _v in terms
            )
            out.append(Dice(tuple(cols), self.slicer_disjunction, "or"))
        return out

    def dice_columns(self) -> set[str]:
        """Every column a dice filters."""
        return {c for d in self.dices() for c in d.cols}


class Dice(NamedTuple):
    """One restriction a SELECT applies BEFORE aggregation."""

    # the diced column, or every column of a compound slicer
    cols: tuple[str, ...]
    # member values, or a compound slicer's [(column, member), ...] tuples
    members: list
    # "in", "except" (NOT IN that keeps NULL-keyed members) or "or" (a
    # compound slicer: rows matching ANY tuple survive)
    kind: str
    # a FROM (SELECT ...) restriction: it defines the SUBCUBE, within
    # which set enumerations (RANK's .Members) evaluate even where
    # coordinate shifts (PARALLELPERIOD & co) read past axis dices
    subcube: bool = False


def apply_dices(
    src: DataFrame,
    dices: list[Dice],
    skip: frozenset = frozenset(),
    keep_subcube: bool = False,
) -> DataFrame:
    """Filter ``src`` by ``dices`` in order, each member coerced to its
    column's type. A time-intelligence recompute reads the cube past the
    dices on ``skip`` columns (subcube dices stay when
    ``keep_subcube``)."""
    for d in dices:
        if skip.intersection(d.cols) and not (keep_subcube and d.subcube):
            if d.kind == "or":
                # one leg of an OR cannot be dropped without changing
                # the other legs' meaning — loud, never a wrong context
                raise MdxError(
                    "time intelligence shifts/windows a column that a "
                    "compound (tuple-set) slicer also filters — the "
                    "cube-context recompute cannot drop one leg of an "
                    "OR; dice that column on the rows axis or a plain "
                    "slicer instead"
                )
            continue
        if d.kind == "or":
            pred = None
            for terms in d.members:
                t = None
                for c, v in terms:
                    eq = F.col(c) == F.lit(_coerce_members(src, c, [v])[0])
                    t = eq if t is None else t & eq
                pred = t if pred is None else pred | t
            src = src.filter(pred)
            continue
        (col,) = d.cols
        pred = F.col(col).isin(_coerce_members(src, col, d.members))
        # an EXCEPT dice: NULL-keyed members are real members — removing
        # [B] never removes them (isin is NULL on NULL input, and a bare
        # ~NULL would silently drop the row)
        src = src.filter(
            F.col(col).isNull() | ~pred if d.kind == "except" else pred
        )
    return src


def _collect_subselect_members(
    nodes, cube: CubeDef, out: list, custom_members: dict
) -> None:
    """Flatten a sub-select axis set into (level column, members)
    filters. Explicit members restrict (a custom AGGREGATE member
    restricts to its underlying union); ``.Members`` and ``[(All)]``
    select everything, hence restrict nothing (validated, then
    ignored); anything else — Children drills, wrapper functions —
    is outside the sub-select subset and raises."""
    per_level: dict[str, list] = {}
    for items in _set_nodes(nodes):
        for segs, suffix in items:
            if _all_member(segs, suffix, cube, " in sub-select"):
                continue  # the grand total restricts nothing
            if (
                len(segs) == 2
                and not suffix
                and segs[0].lower() == "measures"
            ):
                # Excel sub-selects restrict the measure space too;
                # measures are explicit on the outer COLUMNS axis
                # here, so this restricts nothing — validate, ignore
                if not cube.has_measure(segs[1]):
                    raise MdxError(
                        f"unknown measure [Measures].[{segs[1]}] in "
                        f"sub-select on cube [{cube.name}]"
                    )
                continue
            if len(segs) == 2 and suffix == "members":
                cube.level_column(segs[0], segs[1])  # validate only
                continue
            if len(segs) == 3 and not suffix:
                col = cube.level_column(segs[0], segs[1])
                per_level.setdefault(col, []).extend(
                    _members_of(custom_members, segs)
                )
                continue
            raise MdxError(
                "sub-select items must be explicit "
                "[Dim].[Level].[member] members (or .Members / "
                f"[(All)] / [Measures].[M], which restrict "
                f"nothing), got {segs}"
            )
    out.extend(per_level.items())


def _parse_from_clause(p: _Parser, cube: CubeDef) -> list:
    """``FROM [Cube]`` or ``FROM (SELECT <set> ON <axis>[, ...] FROM
    <from>)`` — the sub-select shape pivot clients (Excel) emit to
    restrict the cube slice before the outer query runs. Axis
    placement inside a sub-select is presentation-only; every explicit
    member restricts the slice regardless of axis. Nested sub-selects
    compose (filters AND together). A sub-select WHERE is one more
    restriction, parsed like the outer slicer and AND-composed with
    the axis items. Every restriction applies BEFORE aggregation —
    the same visual-totals semantics as slicers and rows-axis dices,
    Mondrian's sub-select contract."""
    kind, val = p.peek()
    if kind == "seg":
        p.next()
        if val.lower() != cube.name.lower():
            raise MdxError(
                f"query addresses cube [{val}], not [{cube.name}]"
            )
        return []
    if kind == "punct" and val == "(":
        p.next()
        p.expect_word("SELECT")
        filters: list = []
        while True:
            nodes = p.parse_set()
            _collect_subselect_members(nodes, cube, filters, p.custom_members)
            p.expect_word("ON")
            akind, aval = p.next()
            if not (
                (akind == "word" and aval.upper() in ("COLUMNS", "ROWS"))
                or (akind == "num" and aval in ("0", "1"))
            ):
                raise MdxError(
                    f"sub-select axis must be COLUMNS, ROWS, 0 or 1, "
                    f"got {aval!r}"
                )
            if p.peek() == ("punct", ","):
                p.next()
                continue
            break
        p.expect_word("FROM")
        inner = _parse_from_clause(p, cube)
        kind, val = p.peek()
        if kind == "word" and val.upper() == "WHERE":
            # sub-select WHERE: one more pre-aggregation restriction on
            # the slice, AND-composed with the axis items — the same
            # visual-totals semantics, parsed like the outer slicer
            p.next()
            filters.extend(
                _tuple_dices(p, cube, "sub-select WHERE members").items()
            )
        p.expect_punct(")")
        return inner + filters
    raise MdxError(
        f"expected [CubeName] or a (SELECT ...) sub-select, got {val!r}"
    )


def _tuple_dices(p: _Parser, cube: CubeDef, what: str) -> dict[str, list]:
    """A ``( [Dim].[Level].[member], ... )`` restriction as IN dices,
    level column → members. A custom AGGREGATE member slices as its
    underlying member union — no remap needed off the axis."""
    dices: dict[str, list] = {}
    for segs in p.member_tuple(what):
        col = cube.level_column(segs[0], segs[1])
        members = _members_of(p.custom_members, segs)
        dices.setdefault(col, []).extend(members)
    return dices


def _parse_custom_group_member(p: _Parser, cube: CubeDef, segs) -> None:
    """``WITH MEMBER [Dim].[Level].[Name] AS 'AGGREGATE({members})'``
    — a calculated member on a DIMENSION level, the custom-group
    gesture every pivot tool exposes ("group these three markets as
    'Andes'"): the named members fold into ONE synthetic member.
    Executes as a pre-aggregation column remap (CASE col IN (...) THEN
    'Name' ELSE col) — Catalyst-friendly, one pass, no union. Ranges
    expand; the body's members must all belong to the declared level;
    the level's member key must be a single column (a hierarchy child
    is chain-keyed — remapping one chain column would corrupt the
    key); two groups on one level may not overlap (a row can map to
    only one member) and a group may not shadow one of its own
    underlying values. Registered on the parser; axis/slicer/
    sub-select references expand through ``_members_of``."""
    dim, level, gname = segs
    chain = cube.level_chain(dim, level)  # loud on unknown level
    if len(chain) != 1:
        raise MdxError(
            f"custom AGGREGATE members need a single-column level key; "
            f"[{dim}].[{level}] is chain-keyed {chain}"
        )
    key = (dim.lower(), level.lower())
    reg = p.custom_members.setdefault(key, {})
    if gname.lower() in reg:
        raise MdxError(
            f"custom member [{dim}].[{level}].[{gname}] declared twice"
        )
    vals = p.as_body(
        "custom member", lambda q: _parse_aggregate_body(q, dim, level)
    )
    taken: dict[str, str] = {}
    for _other_key, (other_display, other_vals) in reg.items():
        for v in other_vals:
            taken[v] = other_display
    for v in vals:
        if v in taken:
            raise MdxError(
                f"custom member [{gname}] and [{taken[v]}] both "
                f"aggregate [{v}] — overlapping groups cannot be a "
                "single column remap"
            )
        if v.lower() == gname.lower():
            raise MdxError(
                f"custom member [{gname}] aggregates a member with its "
                "own name — the remap would be ambiguous"
            )
    reg[gname.lower()] = (gname, vals)


def _parse_aggregate_body(p: _Parser, dim: str, level: str) -> list[str]:
    """The ``AGGREGATE({[Dim].[Level].[m], ...})`` body of a custom
    group member: explicit members (ranges expand) of EXACTLY the
    declared level; returns their values."""
    p.expect_word("AGGREGATE")
    p.expect_punct("(")
    p.expect_punct("{")
    vals: list[str] = []
    while True:
        for segs, suffix in p.member_or_range():
            if (
                len(segs) != 3
                or suffix
                or segs[0].lower() != dim.lower()
                or segs[1].lower() != level.lower()
            ):
                raise MdxError(
                    "AGGREGATE bodies take explicit "
                    f"[{dim}].[{level}].[member] members only, got "
                    f"{segs}"
                )
            if segs[2] in vals:
                raise MdxError(
                    f"AGGREGATE body names [{segs[2]}] twice"
                )
            vals.append(segs[2])
        if p.peek() == ("punct", ","):
            p.next()
            continue
        break
    p.expect_punct("}")
    p.expect_punct(")")
    return vals


# XMLA/Mondrian INTRINSIC member properties. A BI client decorates
# nearly every drag-drop axis with `DIMENSION PROPERTIES
# MEMBER_CAPTION, MEMBER_UNIQUE_NAME` (Excel emits it unconditionally);
# in this translator's tabular serve the member KEY columns already
# carry exactly that information (the caption IS the level key we
# group by), so intrinsic properties are a documented accept-and-no-op
# — the NON EMPTY treatment. CUSTOM properties ([Dim].[Level].[Prop])
# would require fabricating data we don't model: loud MdxError.
_INTRINSIC_MEMBER_PROPERTIES = frozenset({
    "member_caption", "member_unique_name", "member_name", "member_key",
    "member_value", "member_type", "member_ordinal", "caption", "key",
    "level_number", "level_unique_name", "parent_unique_name",
    "parent_level", "parent_count", "children_cardinality",
    "hierarchy_unique_name", "dimension_unique_name", "description",
})


def _parse_dimension_properties(p: _Parser) -> None:
    """Optional ``[DIMENSION] PROPERTIES <name, ...>`` between an axis
    set and its ``ON <AXIS>`` — parsed, validated against the XMLA
    intrinsic set, and no-op'd (see _INTRINSIC_MEMBER_PROPERTIES)."""
    kind, val = p.peek()
    if kind == "word" and val.upper() == "DIMENSION":
        p.next()
        p.expect_word("PROPERTIES")
    elif kind == "word" and val.upper() == "PROPERTIES":
        p.next()
    else:
        return
    while True:
        kind, val = p.next()
        if kind == "word" and val.lower() in _INTRINSIC_MEMBER_PROPERTIES:
            pass  # intrinsic: served by the member key columns already
        elif kind == "seg" or (
            kind == "word" and val.lower() not in _INTRINSIC_MEMBER_PROPERTIES
        ):
            raise MdxError(
                f"custom member property {val!r} is not modeled — this "
                "cube serves intrinsic properties (MEMBER_CAPTION etc.) "
                "as the member key columns; declare custom properties "
                "as their own level instead"
            )
        else:
            raise MdxError(
                f"DIMENSION PROPERTIES expects a property name, got "
                f"{val!r}"
            )
        kind, val = p.peek()
        if kind == "punct" and val == ",":
            p.next()
            continue
        return


def parse_mdx(text: str, cube: CubeDef) -> MdxSelect:
    """Parse an MDX [WITH MEMBER ...] SELECT against ``cube``."""
    p = _Parser(_tokenize(text))

    # WITH MEMBER [Measures].[Name] AS <expr> (expr quoted or bare)
    #      SET [Name] AS <set> (set quoted or bare), interleaved freely
    calc_members: dict[str, tuple] = {}
    kind, val = p.peek()
    if kind == "word" and val.upper() == "WITH":
        p.next()
        while True:
            kind, val = p.peek()
            if kind == "word" and val.upper() == "MEMBER":
                p.next()
                segs, suffix = p.member_path()
                if suffix or len(segs) not in (2, 3):
                    raise MdxError(
                        "WITH MEMBER declares [Measures].[Name] or a "
                        f"[Dim].[Level].[Name] custom group, got {segs}"
                    )
                if len(segs) == 3:
                    # a calculated member ON A DIMENSION LEVEL — the
                    # custom-group gesture: WITH MEMBER
                    # [Dim].[Level].[Name] AS 'AGGREGATE({members})'
                    _parse_custom_group_member(p, cube, segs)
                    continue
                if segs[0].lower() != "measures":
                    raise MdxError(
                        "two-segment WITH MEMBER names must be "
                        f"[Measures].[Name], got {segs}"
                    )
                name = segs[1]
                if cube.has_measure(name) or name.lower() in {
                    k.lower() for k in calc_members
                }:
                    raise MdxError(
                        f"calculated member [Measures].[{name}] collides "
                        "with an existing measure"
                    )
                expr = p.as_body("calculated member", _Parser.calc_expr)
                _validate_refs(expr, cube, calc_members)
                calc_members[name] = expr
                continue
            if kind == "word" and val.upper() == "SET":
                p.next()
                skind, sname = p.next()
                if skind != "seg":
                    raise MdxError(
                        f"WITH SET needs a [Name], got {sname!r}"
                    )
                if sname.lower() in p.named_sets:
                    raise MdxError(
                        f"named set [{sname}] declared twice"
                    )
                nodes = p.as_body("named set", _Parser.parse_set)
                p.named_sets[sname.lower()] = nodes
                continue
            break
        if not calc_members and not p.named_sets and not p.custom_members:
            raise MdxError("WITH must declare at least one MEMBER or SET")

    p.expect_word("SELECT")

    # COLUMNS axis: base measures and calculated members
    cols_set = p.parse_set()
    _parse_dimension_properties(p)
    p.expect_word("ON")
    p.expect_word("COLUMNS")
    if len(cols_set) != 1 or cols_set[0][0] != "set":
        raise MdxError("COLUMNS axis must be a {measure, ...} set")
    columns: list[str] = []
    known_calc = {k.lower() for k in calc_members}
    for segs, suffix in cols_set[0][1]:
        if len(segs) != 2 or segs[0].lower() != "measures" or suffix:
            raise MdxError(
                f"COLUMNS axis items must be [Measures].[Name], got {segs}"
            )
        if not cube.has_measure(segs[1]) and segs[1].lower() not in known_calc:
            raise MdxError(
                f"unknown measure [Measures].[{segs[1]}] on cube "
                f"[{cube.name}]"
            )
        if segs[1].lower() in {m.lower() for m in columns}:
            raise MdxError(
                f"measure [Measures].[{segs[1]}] appears twice on the "
                "COLUMNS axis"
            )
        columns.append(segs[1])

    p.expect_punct(",")
    # optional NON EMPTY
    kind, val = p.peek()
    if kind == "word" and val.upper() == "NON":
        p.next()
        p.expect_word("EMPTY")
    rows_node = p.parse_rows_axis()
    _parse_dimension_properties(p)
    p.expect_word("ON")
    p.expect_word("ROWS")

    # unwrap TOPCOUNT/BOTTOMCOUNT/ORDER/FILTER/HEAD/TAIL (outermost-
    # first) down to the set nodes
    wrappers: list[tuple] = []
    while rows_node[0] in (*_MEASURE_CUTS, "order", "filter", "head", "tail"):
        if rows_node[0] in ("head", "tail"):
            tag, inner, n = rows_node
            wrappers.append((tag, n))
        elif rows_node[0] in _MEASURE_CUTS:
            tag, inner, n, measure = rows_node
            if not cube.has_measure(measure) and (
                measure.lower() not in known_calc
            ):
                raise MdxError(
                    f"{tag.upper()} ranks by unknown measure "
                    f"[Measures].[{measure}] on cube [{cube.name}]"
                )
            wrappers.append((tag, n, measure))
        elif rows_node[0] == "order":
            _, inner, expr, desc = rows_node
            _validate_refs(expr, cube, calc_members)
            wrappers.append(("order", expr, desc))
        else:
            _, inner, cond = rows_node
            for e in _cond_exprs(cond):
                _validate_refs(e, cube, calc_members)
            wrappers.append(("filter", cond))
        rows_node = inner
    (
        group_cols,
        member_filters,
        exclude_filters,
        alternatives,
        custom_groups,
    ) = _rows_axis(rows_node[1], cube, p.custom_members)
    if not alternatives:
        raise MdxError("ROWS axis selected no levels")
    # crossjoin product of each set's grouping alternatives = the
    # grouping-set lattice; a single full-column set degenerates to a
    # plain GROUP BY (kept distinct so the simple case keeps the
    # simple plan).
    from itertools import product as _product

    grouping_sets, _seen = [], set()
    for combo in _product(*alternatives):
        gs = [c for opt in combo for c in opt]
        key = tuple(gs)
        if key not in _seen:
            _seen.add(key)
            grouping_sets.append(gs)
    if wrappers and len(grouping_sets) > 1:
        raise MdxError(
            "TOPCOUNT/BOTTOMCOUNT/ORDER/FILTER over a set containing "
            "[(All)] would rank/sort/filter cells of mixed grain — "
            "not supported"
        )
    if not group_cols and any(w[0] in ("head", "tail") for w in wrappers):
        # the all-only axis is a single cell with no member order
        raise MdxError(
            "HEAD/TAIL need at least one level on the rows axis — the "
            "all-only [(All)] axis has no member order to cut"
        )

    p.expect_word("FROM")
    subselect_filters = _parse_from_clause(p, cube)

    slicer_filters: dict[str, list] = {}
    slicer_disjunction: list = []
    kind, val = p.peek()
    if kind == "word" and val.upper() == "WHERE":
        p.next()
        kind, val = p.peek()
        if kind == "punct" and val == "{":
            # SET slicer — WHERE {[m1], [m2], ...} — the multi-select
            # gesture pivot clients emit (Mondrian's aggregated slicer
            # set): members of ONE level OR together into one IN dice;
            # ranges expand like everywhere else. The COMPOUND form
            # WHERE {([mA],[mB]), ([mC],[mD])} — a set of TUPLES, the
            # shape Excel emits when a user multi-selects across two
            # filter fields — becomes an OR-of-ANDs disjunction applied
            # before aggregation. Every tuple must span the SAME column
            # set (a ragged set has no single filter meaning), and a
            # tuple may not repeat a level. Mixed single-member levels
            # outside tuples stay loud (write them as 1-tuples? no —
            # a mixed bare set is a UNION of slices of different
            # grains, which tuples of one column set are not).
            p.next()
            tuples: list[list] = []
            singles: list = []
            while True:
                if p.peek() == ("punct", "("):
                    tuples.append(list(p.member_tuple("slicer-tuple members")))
                else:
                    singles.extend(p.member_or_range())
                if p.peek() != ("punct", ","):
                    break
                p.next()
            p.expect_punct("}")
            if tuples and singles:
                raise MdxError(
                    "a slicer set mixes bare members with tuples — "
                    "write every item as a tuple over the same levels"
                )
            if tuples:
                colset = None
                for terms in tuples:
                    seen_cols: dict[str, str] = {}
                    for segs in terms:
                        if _custom_group(p.custom_members, segs):
                            raise MdxError(
                                f"custom AGGREGATE member [{segs[2]}] "
                                "inside a compound-slicer tuple is not "
                                "supported — spell its members as "
                                "separate tuples"
                            )
                        col = cube.level_column(segs[0], segs[1])
                        if col in seen_cols:
                            raise MdxError(
                                f"slicer tuple names level column "
                                f"{col!r} twice — a tuple may not "
                                "repeat a hierarchy"
                            )
                        seen_cols[col] = segs[2]
                    cols = frozenset(seen_cols)
                    if colset is None:
                        colset = cols
                    elif cols != colset:
                        raise MdxError(
                            "every slicer tuple must span the SAME "
                            f"levels, got columns {sorted(colset)} and "
                            f"{sorted(cols)}"
                        )
                    slicer_disjunction.append(sorted(seen_cols.items()))
                if len(colset) == 1:
                    # one-column tuples are the plain IN dice
                    col = next(iter(colset))
                    for terms in slicer_disjunction:
                        slicer_filters.setdefault(col, []).append(
                            terms[0][1]
                        )
                    slicer_disjunction.clear()
            else:
                for segs in _one_level(
                    singles,
                    "set-slicer members must be [Dim].[Level].[member]",
                    "set-slicer members",
                    " — a mixed-level slicer set is a union of slices, "
                    "not a filter conjunction (tuples over the same "
                    "levels express the cross-level multi-select)",
                ):
                    col = cube.level_column(segs[0], segs[1])
                    slicer_filters.setdefault(col, []).extend(
                        _members_of(p.custom_members, segs)
                    )
        else:
            slicer_filters = _tuple_dices(p, cube, "slicer members")
    if p.peek()[0] != "eof":
        raise MdxError(f"trailing tokens from {p.peek()[1]!r}")

    # output-column uniqueness: grouping columns, base measure aliases
    # and calculated-member snake_case aliases share one namespace — two
    # members whose names collapse to the same alias (or shadow a
    # grouping column / base alias) would emit duplicate columns, a
    # silent wrong answer downstream
    out_aliases = list(group_cols)
    for name in columns:
        out_aliases.append(
            cube.measure_alias(name)
            if cube.has_measure(name)
            else _calc_alias(name)
        )
    seen_alias: set[str] = set()
    for a in out_aliases:
        if a.lower() in seen_alias:
            raise MdxError(
                f"output column {a!r} appears twice (colliding member "
                "names, or a calculated member shadowing a grouping "
                "column or base measure)"
            )
        seen_alias.add(a.lower())

    return MdxSelect(
        columns=columns,
        calc_members=calc_members,
        group_cols=group_cols,
        member_filters=member_filters,
        exclude_filters=exclude_filters,
        slicer_filters=slicer_filters,
        grouping_sets=grouping_sets,
        wrappers=wrappers,
        subselect_filters=subselect_filters,
        slicer_disjunction=slicer_disjunction,
        custom_groups=custom_groups,
    )


def _cond_exprs(cond):
    """Yield every arithmetic expression inside a FILTER condition
    tree (("cmp", op, l, r) leaves under and/or nodes)."""
    if cond[0] in ("and", "or"):
        yield from _cond_exprs(cond[1])
        yield from _cond_exprs(cond[2])
    else:
        yield cond[2]
        yield cond[3]


def _build_cond(cond, cube: CubeDef, calc_members: dict) -> Column:
    """Compile a FILTER condition tree to a boolean Column."""
    if cond[0] == "and":
        return _build_cond(cond[1], cube, calc_members) & _build_cond(
            cond[2], cube, calc_members
        )
    if cond[0] == "or":
        return _build_cond(cond[1], cube, calc_members) | _build_cond(
            cond[2], cube, calc_members
        )
    _tag, op, left, right = cond
    return _CMP[op](
        _build_expr(left, cube, calc_members),
        _build_expr(right, cube, calc_members),
    )


def _validate_refs(expr, cube: CubeDef, calc_members: dict) -> None:
    """Every ("ref", name) in a calculated-member / FILTER expression
    must name a base measure or an ALREADY-DEFINED calculated member
    (Mondrian definition-order scoping) — loud otherwise."""
    kind = expr[0]
    if kind == "ref":
        name = expr[1]
        if not cube.has_measure(name) and name.lower() not in {
            k.lower() for k in calc_members
        }:
            raise MdxError(
                f"expression references unknown measure "
                f"[Measures].[{name}] on cube [{cube.name}]"
            )
    elif kind == "ti":
        _, family, name, dim, level, _params = expr
        if not cube.has_measure(name):
            fam = _TI_FAMILIES[family]
            raise MdxError(
                f"{fam.fn} {fam.reads} BASE measures only; "
                f"[Measures].[{name}] is not one on cube [{cube.name}]"
            )
        cube.level_column(dim, level)  # loud on unknown level
    elif kind == "bin":
        _validate_refs(expr[2], cube, calc_members)
        _validate_refs(expr[3], cube, calc_members)
    elif kind == "neg":
        _validate_refs(expr[1], cube, calc_members)


def _measure_leaves(expr, cube: CubeDef, calc_members: dict):
    """The base-measure references and time-intelligence nodes an
    expression evaluates, in order, calculated-member references followed
    into their definitions."""
    kind = expr[0]
    if kind == "ti" or (kind == "ref" and cube.has_measure(expr[1])):
        yield expr
    elif kind == "ref":
        for k, sub in calc_members.items():
            if k.lower() == expr[1].lower():
                yield from _measure_leaves(sub, cube, calc_members)
                break
    elif kind == "bin":
        yield from _measure_leaves(expr[2], cube, calc_members)
        yield from _measure_leaves(expr[3], cube, calc_members)
    elif kind == "neg":
        yield from _measure_leaves(expr[1], cube, calc_members)


def _build_expr(expr, cube: CubeDef, calc_members: dict) -> Column:
    """Compile a calculated-member AST to a post-aggregation Column:
    base measure refs become their agg output columns, calc refs inline
    their definitions (solve-order 0: everything is one projection
    over one aggregate)."""
    kind = expr[0]
    if kind == "num":
        return F.lit(expr[1])
    if kind == "neg":
        return -_build_expr(expr[1], cube, calc_members)
    if kind == "ti":
        return F.col(_ti_alias(expr, cube))
    if kind == "ref":
        name = expr[1]
        if cube.has_measure(name):
            return F.col(cube.measure_alias(name))
        for k, sub in calc_members.items():
            if k.lower() == name.lower():
                return _build_expr(sub, cube, calc_members)
        raise MdxError(f"unknown measure reference [{name}]")
    op, left, right = expr[1], expr[2], expr[3]
    lc = _build_expr(left, cube, calc_members)
    rc = _build_expr(right, cube, calc_members)
    if op == "+":
        return lc + rc
    if op == "-":
        return lc - rc
    if op == "*":
        return lc * rc
    if op == "/":
        return lc / rc
    raise MdxError(f"unsupported operator {op!r}")


_CMP = {
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
    "=": Column.__eq__,
    "<>": Column.__ne__,
}


# -- time intelligence --------------------------------------------------------
# A time-intelligence member parses to ("ti", family, measure, dim, level,
# params), params being what the family's MDX form takes beyond the level:
#   pp    ([M], PARALLELPERIOD([D].[L], k))                 (k,)
#   ptd   SUM(PERIODSTODATE([D].[L]), [M])                  ()
#   lp    SUM|AVG(LASTPERIODS(n, [D].[L].CurrentMember), [M])
#                                                           (n, "sum"|"avg")
#   bp    ([M], OPENINGPERIOD|CLOSINGPERIOD([D].[L]))       (function name,)
#   rank  RANK([D].[L].CurrentMember, [D].[L].Members, [M]) ()
# Every distinct (family, level, params) is a SPEC, computed once over the
# aggregate's cells — cell×cell, never a second fact scan — and attached
# as one hidden column per measure (execute_select), before the wrappers
# evaluate. Each family's value moves ALONG some grouping columns (the
# shifted key, the window's order or rank set) and is read per partition
# of the others. It reads the CUBE, not the axis selection: a dice on an
# along column would hide the cells the value needs, so the value is then
# computed over a re-aggregation WITHOUT those dices and LEFT-joined back
# (dices on the other columns are harmless and stay applied).

_TI_KEY = "__tik_"  # prefix of the right side's keys in a join-back
_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _ti_alias(expr, cube: CubeDef) -> str:
    """Deterministic output column of a time-intelligence node: one per
    (spec, measure), shared by every expression that references the
    same value."""
    _, family, name, dim, level, params = expr
    safe = re.sub(r"[^a-z0-9]+", "_", f"{dim}_{level}".lower())
    tail = "".join(f"{p}_" for p in params)
    return f"__{family}_{safe}_{tail}{cube.measure_alias(name)}"


def _ti_specs(sel: MdxSelect, cube: CubeDef) -> dict:
    """The time-intelligence specs a SELECT evaluates, as ``{family:
    {(dim, level, *params): (node, {alias: measure})}}`` in
    first-reference order: one join or window per spec, projecting every
    measure it needs."""
    specs: dict = {}
    for expr in _select_exprs(sel):
        for node in _measure_leaves(expr, cube, sel.calc_members):
            if node[0] == "ti":
                _, family, name, dim, level, params = node
                key = (dim.lower(), level.lower(), *params)
                spec = specs.setdefault(family, {}).setdefault(key, (node, {}))
                spec[1][_ti_alias(node, cube)] = name
    return specs


def _period_key(cube: CubeDef, dim, level, chain, prefix="") -> Column:
    """A level's integer period key: the column itself at the hierarchy
    top, ``top*period + (child-1)`` one level below it (the cycle
    ``CubeDef.period_lengths`` declares), so January shifts or windows
    back into the prior December by plain integer arithmetic."""
    if len(chain) == 1:
        return F.col(prefix + chain[0])
    top, sub = chain
    return F.col(prefix + top) * cube.level_period(dim, level) + (
        F.col(prefix + sub) - 1
    )


def _window(part_cols: list, *order: Column):
    return (
        Window.partitionBy(*part_cols).orderBy(*order)
        if part_cols
        else Window.orderBy(*order)
    )


def _ytd_order(cube: CubeDef, dim, level, chain, gcols) -> list[str]:
    """PERIODSTODATE runs along the deeper levels of the anchor's
    hierarchy that are on the axis, in hierarchy order."""
    hlevels = next(
        (lv for d, lv in cube.hierarchies.items() if d.lower() == dim.lower()),
        [],
    )
    order_cols = [
        cube.level_column(dim, lv)
        for lv in hlevels[len(chain) :]
        if cube.level_column(dim, lv) in gcols
    ]
    if not order_cols:
        raise MdxError(
            f"PERIODSTODATE([{dim}].[{level}]) needs a level BELOW "
            f"[{level}] from the same declared hierarchy on the "
            "rows axis to order the running sum"
        )
    return order_cols


# Column builders: (cube, dim, level, params, chain, along, part_cols) ->
# (measure -> value Column, shifted-join condition or None for a window).


def _pp_shift(cube, dim, level, params, chain, along, part_cols):
    """The measure of the cell ``k`` periods earlier: a LEFT self-join
    of the aggregate on the shifted period key (a missing prior cell is
    NULL, MDX's empty cell)."""
    (k,) = params
    shifted = _period_key(cube, dim, level, chain) - F.lit(k)
    cond = shifted == _period_key(cube, dim, level, chain, _TI_KEY)
    return (lambda m: F.col(cube.measure_alias(m))), cond


def _ytd_window(cube, dim, level, params, chain, along, part_cols):
    """Running sum from the anchor member's first period to the cell."""
    w = _window(part_cols, *[F.col(c).asc() for c in along])
    return (lambda m: F.sum(cube.measure_alias(m)).over(w)), None


def _trailing_window(cube, dim, level, params, chain, along, part_cols):
    """SUM/AVG over ``RANGE n-1 PRECEDING .. CURRENT ROW`` of the period
    key: a missing period adds nothing but still takes its slot."""
    n, agg = params
    key = _period_key(cube, dim, level, chain)
    w = Window.partitionBy(*part_cols).orderBy(key.asc()).rangeBetween(
        -(n - 1), 0
    )
    fn = F.sum if agg == "sum" else F.avg
    return (lambda m: fn(cube.measure_alias(m)).over(w)), None


def _boundary_window(cube, dim, level, params, chain, along, part_cols):
    """The measure at the first/last PRESENT sibling period under the
    cell's ancestor (members are value-keyed: a year whose data starts
    in February opens at February)."""
    pick = F.min_by if params[0] == "OPENINGPERIOD" else F.max_by
    w = Window.partitionBy(*part_cols)
    return (
        lambda m: pick(F.col(cube.measure_alias(m)), F.col(along[0])).over(w)
    ), None


def _rank_window(cube, dim, level, params, chain, along, part_cols):
    """``RANK()`` by the measure descending: equal values share a rank
    (competition ranking, as in SQL)."""
    return (
        lambda m: F.rank().over(
            _window(part_cols, F.col(cube.measure_alias(m)).desc())
        )
    ), None


class _TiFamily(NamedTuple):
    """What differs between the time-intelligence families; the attach
    loop in :func:`execute_select` does the rest."""

    fn: str  # the MDX function, in messages
    reads: str  # "<fn> <reads> BASE measures only"
    lattice: str  # the refusal over an [(All)] lattice
    uses: str  # "<uses> but its key column ... is not on the rows axis"
    # integer-keyed families: the refusal below the hierarchy's second level
    ragged: str | None
    # (cube, dim, level, chain, gcols) -> the columns the value moves
    # along: their dice forces the recompute, the rest partition it
    along: Callable
    # the recompute keeps FROM (SELECT ...) restrictions: a set
    # enumeration like RANK's .Members shrinks with the subcube, where
    # the coordinate shifts read past it as they read past dices
    keep_subcube: bool
    build: Callable  # the column builder above


def _chain(cube, dim, level, chain, gcols):
    return chain


# in attach order
_TI_FAMILIES = {
    "pp": _TiFamily(
        fn="PARALLELPERIOD",
        reads="tuples shift",
        lattice="PARALLELPERIOD needs a single-grain rows axis — over an "
        "[(All)] lattice the shifted tuple would mix grains",
        uses="PARALLELPERIOD shifts [{dim}].[{level}]",
        ragged="shifts more than one level below the hierarchy top — such "
        "cycles are ragged (days-per-month) and the wrap arithmetic would "
        "be fabricated",
        along=_chain,
        keep_subcube=False,
        build=_pp_shift,
    ),
    "ptd": _TiFamily(
        fn="PERIODSTODATE",
        reads="sums",
        lattice="PERIODSTODATE needs a single-grain rows axis — over an "
        "[(All)] lattice the running sum would mix grains",
        uses="PERIODSTODATE anchors [{dim}].[{level}]",
        ragged=None,
        along=_ytd_order,
        keep_subcube=False,
        build=_ytd_window,
    ),
    "lp": _TiFamily(
        fn="LASTPERIODS",
        reads="aggregates",
        lattice="LASTPERIODS needs a single-grain rows axis — over an "
        "[(All)] lattice the trailing window would mix grains",
        uses="LASTPERIODS windows [{dim}].[{level}]",
        ragged="is more than one level below the hierarchy top — such "
        "cycles are ragged and the window key would be fabricated",
        along=_chain,
        keep_subcube=False,
        build=_trailing_window,
    ),
    "bp": _TiFamily(
        fn="OPENINGPERIOD/CLOSINGPERIOD",
        reads="tuples read",
        lattice="OPENINGPERIOD/CLOSINGPERIOD need a single-grain rows axis "
        "— over an [(All)] lattice the boundary would mix grains",
        uses="{0} anchors [{dim}].[{level}]",
        ragged=None,
        along=lambda cube, dim, level, chain, gcols: chain[-1:],
        keep_subcube=False,
        build=_boundary_window,
    ),
    "rank": _TiFamily(
        fn="RANK",
        reads="orders by",
        lattice="RANK needs a single-grain rows axis — over an [(All)] "
        "lattice the ranking would mix grains",
        uses="RANK ranks [{dim}].[{level}] members",
        ragged=None,
        along=_chain,
        keep_subcube=True,
        build=_rank_window,
    ),
}


def _select_exprs(sel: MdxSelect):
    """Every measure expression a SELECT evaluates over its cells: the
    COLUMNS-axis members as references, then what the rows-axis wrappers
    carry, outermost first (HEAD/TAIL cut in member order and carry
    none)."""
    for name in sel.columns:
        yield ("ref", name)
    for w in sel.wrappers:
        if w[0] in _MEASURE_CUTS:
            yield ("ref", w[2])
        elif w[0] == "order":
            yield w[1]
        elif w[0] == "filter":
            yield from _cond_exprs(w[1])


def needed_base_measures(sel: MdxSelect, cube: CubeDef) -> list[str]:
    """Base measures a parsed SELECT must aggregate: COLUMNS-axis bases
    plus the transitive dependencies of calculated members on the axis
    plus TOPCOUNT/FILTER wrapper references, in first-need order."""
    needed: list[str] = []
    for expr in _select_exprs(sel):
        for node in _measure_leaves(expr, cube, sel.calc_members):
            name = node[2] if node[0] == "ti" else node[1]
            if name.lower() not in {m.lower() for m in needed}:
                needed.append(name)
    if not needed:
        raise MdxError("query selects no base measures to aggregate")
    return needed


def execute_select(
    sel: MdxSelect,
    cube: CubeDef,
    source: DataFrame,
    agg_expr_for: Callable[[str], Column],
) -> DataFrame:
    """The execution core shared by :func:`mdx_query` (aggregate the
    fact star) and the aggregate navigator (re-aggregate a materialized
    rollup, operators/aggnav.py): filter ``source`` by slicer and
    rows-axis member dices (BEFORE aggregation), group by the rows-axis
    grouping sets, aggregate each needed base measure via
    ``agg_expr_for`` (the only thing that differs between the fact and
    an aggregate table), then apply wrappers and project the COLUMNS
    axis."""
    dices = sel.dices()
    needed = needed_base_measures(sel, cube)
    aggs = [agg_expr_for(m) for m in needed]

    def aggregate(src: DataFrame) -> DataFrame:
        if len(sel.grouping_sets) == 1 and sel.grouping_sets[0]:
            return src.groupBy(*sel.grouping_sets[0]).agg(*aggs)
        # grouping sets even for the degenerate all-only axis ([[]]):
        # the () grouping set is a KEYED group that emits zero rows on
        # empty input, where groupBy() is a global aggregate that would
        # fabricate an All cell — the NON-EMPTY-is-a-no-op invariant
        # (module docstring) holds only on this plan.
        return src.groupingSets(sel.grouping_sets, *sel.group_cols).agg(
            *aggs
        )

    def filtered(
        src: DataFrame,
        skip: frozenset = frozenset(),
        keep_subcube: bool = False,
    ) -> DataFrame:
        src = apply_dices(src, dices, skip, keep_subcube)
        # custom AGGREGATE members: remap the level column AFTER the
        # dice (which selects the groups' underlying rows plus any bare
        # members) — CASE col IN (...) THEN 'Name' ELSE col, one
        # Catalyst projection, no union. String-keyed levels only: a
        # numeric column cannot carry the synthetic name.
        for col, groups in sel.custom_groups.items():
            dtype = dict(src.dtypes).get(col, "")
            if dtype != "string":
                raise MdxError(
                    "custom AGGREGATE members need a string-keyed "
                    f"level; column {col!r} is {dtype or 'missing'}"
                )
            expr = F.col(col)
            for display, gvals in groups:
                expr = F.when(
                    F.col(col).isin(list(gvals)), F.lit(display)
                ).otherwise(expr)
            src = src.withColumn(col, expr)
        return src

    out = aggregate(filtered(source))
    _excl_cache: dict = {}

    def agg_excluding(
        skip: frozenset, keep_subcube: bool = False
    ) -> DataFrame:
        # memoized per (skip-set, subcube flavor): two diced time-intel
        # specs along the same columns (YoY + 2-year growth, or YTD +
        # closing month) share ONE re-aggregation instead of scanning the
        # fact once each
        key = (skip, keep_subcube)
        if key not in _excl_cache:
            _excl_cache[key] = aggregate(
                filtered(source, skip, keep_subcube)
            )
        return _excl_cache[key]

    # time intelligence (see _TI_FAMILIES): each spec's values attach as
    # columns BEFORE the wrappers evaluate (FILTER/ORDER may reference
    # them) — families in table order, specs in first-reference order. A
    # query without such members makes no DataFrame call here.
    specs = _ti_specs(sel, cube)
    for family, fam in _TI_FAMILIES.items():
        if family not in specs:
            continue
        if len(sel.grouping_sets) != 1 or not sel.grouping_sets[0]:
            raise MdxError(fam.lattice)
        gcols = sel.grouping_sets[0]
        dtypes = dict(out.dtypes) if fam.ragged else {}
        # the dices a recompute drops
        droppable = {
            c
            for d in dices
            if not (fam.keep_subcube and d.subcube)
            for c in d.cols
        }
        for expr, aliases in specs[family].values():
            _, _, _, dim, level, params = expr
            chain = cube.level_chain(dim, level)
            if fam.ragged and len(chain) > 2:
                raise MdxError(f"{fam.fn}([{dim}].[{level}]) {fam.ragged}")
            for c in chain:
                if c not in gcols:
                    raise MdxError(
                        f"{fam.uses.format(*params, dim=dim, level=level)} "
                        f"but its key column {c!r} is not on the rows axis"
                    )
                if fam.ragged and dtypes.get(c) not in _INT_TYPES:
                    raise MdxError(
                        f"{fam.fn} needs integer-keyed levels; "
                        f"{c!r} is {dtypes.get(c)}"
                    )
            along = fam.along(cube, dim, level, chain, gcols)
            value, shift = fam.build(
                cube, dim, level, params, chain, along,
                [c for c in gcols if c not in along],
            )
            diced = bool(droppable & set(along))
            if shift is None and not diced:
                for alias, m in aliases.items():
                    out = out.withColumn(alias, value(m))
                continue
            # join the values back: from a re-aggregation without the
            # along dices, or (an undiced shift) from the aggregate itself
            base = (
                agg_excluding(frozenset(along), fam.keep_subcube)
                if diced
                else out
            )
            right = base.select(
                *[F.col(c).alias(_TI_KEY + c) for c in gcols],
                *[value(m).alias(a) for a, m in aliases.items()],
            )
            cond = shift
            for c in gcols:
                if shift is not None and c in along:
                    continue  # matched by the shifted key
                term = F.col(c) == F.col(_TI_KEY + c)
                cond = term if cond is None else cond & term
            out = out.join(right, cond, "left").drop(
                *[_TI_KEY + c for c in gcols]
            )

    def resolve(name: str) -> Column:
        return _build_expr(("ref", name), cube, sel.calc_members)

    # wrappers were collected outermost-first; execute innermost-first.
    # ``prevailing`` tracks the inner set's ordering as (expr, desc)
    # pairs: ORDER/TOPCOUNT/BOTTOMCOUNT establish one, FILTER keeps it,
    # and HEAD/TAIL cut relative to it — HEAD(ORDER(s, m, DESC), n) is
    # the first n of the ORDERED set (Mondrian Head/Tail preserve the
    # given set order), not the n smallest-keyed members. With no
    # prevailing order the set order is the natural one (keys asc).
    natural = [(F.col(c), False) for c in sel.group_cols]
    prevailing: list | None = None

    def sort_cols(pairs, invert=False):
        return [
            e.asc() if d == invert else e.desc() for e, d in pairs
        ]

    for w in reversed(sel.wrappers):
        if w[0] == "filter":
            out = out.filter(
                _build_cond(w[1], cube, sel.calc_members)
            )
        elif w[0] == "order":
            _tag, expr, desc = w
            key = _build_expr(expr, cube, sel.calc_members)
            prevailing = [(key, desc)] + natural
            out = out.orderBy(*sort_cols(prevailing))
        elif w[0] in ("head", "tail"):
            tag, n = w
            order = prevailing if prevailing is not None else natural
            if tag == "head":
                out = out.orderBy(*sort_cols(order)).limit(n)
            else:
                # last n of the set order = first n of its inverse;
                # re-sort back so TAIL PRESERVES the set order (a
                # Mondrian client reads the rows in order)
                out = (
                    out.orderBy(*sort_cols(order, invert=True))
                    .limit(n)
                    .orderBy(*sort_cols(order))
                )
        elif w[0] in ("topcount", "bottomcount"):
            tag, n, measure = w
            key = resolve(measure)
            prevailing = [(key, tag == "topcount")] + natural
            out = out.orderBy(*sort_cols(prevailing)).limit(n)
        else:
            # the Pareto cut: keep the shortest prefix of the
            # (measure-ordered) set whose running total reaches the
            # threshold, INCLUDING the crossing member — a row survives
            # iff the sum of everything BEFORE it is still below the
            # threshold. Two windows over group-count-many aggregated
            # cells (running sum + grand total), never the fact.
            tag, threshold, measure = w
            key = resolve(measure)
            desc = tag in ("toppercent", "topsum")
            order = [(F.col("__cut_key"), desc)] + natural
            w_all = Window.partitionBy()
            tmp = (
                out.withColumn("__cut_key", key)
                .withColumn(
                    "__cut_prev",
                    F.coalesce(
                        F.sum("__cut_key").over(
                            Window.orderBy(*sort_cols(order)).rowsBetween(
                                Window.unboundedPreceding, -1
                            )
                        ),
                        F.lit(0),
                    ),
                )
                .withColumn(
                    "__cut_rn",
                    F.row_number().over(
                        Window.orderBy(*sort_cols(order))
                    ),
                )
                .withColumn("__cut_min", F.min("__cut_key").over(w_all))
                .withColumn(
                    "__cut_thresh",
                    F.lit(threshold / 100.0) * F.sum("__cut_key").over(w_all)
                    if tag.endswith("percent")
                    else F.lit(float(threshold)),
                )
            )
            # a negative cell value makes running sums non-monotonic:
            # the "prefix below threshold" rows are no longer a prefix,
            # and Mondrian's stop-at-first-crossing answer diverges —
            # loud, never a silently wrong cut. The first row always
            # survives: its running total is the first to reach the
            # threshold (the OR only matters for a zero-total percent
            # cut, where threshold = 0 and the strict prefix test
            # alone would return an empty set instead of the crossing
            # member).
            keep = F.when(
                F.col("__cut_min") < 0,
                F.raise_error(
                    F.lit(
                        f"{tag.upper()} over negative cell values — "
                        "the running-prefix cut is undefined"
                    )
                ).cast("boolean"),
            ).otherwise(
                (F.col("__cut_prev") < F.col("__cut_thresh"))
                | (F.col("__cut_rn") == 1)
            )
            out = (
                tmp.filter(keep)
                .orderBy(*sort_cols(order))
                .drop(
                    "__cut_key", "__cut_prev", "__cut_rn",
                    "__cut_min", "__cut_thresh",
                )
            )
            prevailing = [(key, desc)] + natural

    final = [F.col(c) for c in sel.group_cols]
    for name in sel.columns:
        if cube.has_measure(name):
            final.append(F.col(cube.measure_alias(name)))
        else:
            final.append(resolve(name).alias(_calc_alias(name)))
    return out.select(*final)


def mdx_query(cube: CubeDef, mdx: str, *star_args) -> DataFrame:
    """Run an MDX [WITH ...] SELECT against a cube: build the star,
    apply slicer and rows-axis member filters (both BEFORE aggregation
    — they reach the scans through the star's broadcast joins), group
    by the rows-axis level columns, aggregate every base measure the
    COLUMNS axis / calculated members / wrappers need, then project
    calculated members, apply FILTER (a HAVING over group-count-many
    rows) and TOPCOUNT (ORDER BY measure DESC, keys LIMIT n — a
    TakeOrderedAndProject, never a fact-sized sort) innermost-first.
    A rows axis without ``(All)`` members is a plain groupBy; with
    them, the grouping-set lattice runs as ONE Expand + HashAggregate
    (All cells carry NULL in their level columns, the Spark rollup
    convention). Either way: one shuffle, partial aggregation, no
    driver-side evaluation.

    A cube with registered ``aggregates`` (CubeDef.aggregates) routes
    through the aggregate navigator FIRST: the smallest rollup whose
    grain covers the query's grouping and filter columns answers by
    re-folding its mergeable states, and the fact star is only built
    when nothing covers — Mondrian's deployment shape, where aggregate
    tables are schema declarations and every client query benefits
    without addressing them. At 100 TB this is the difference between
    a dashboard drill reading kilobytes and re-scanning the fact."""
    sel = parse_mdx(mdx, cube)
    if cube.aggregates:
        from datawarehousefinal_spark.operators.aggnav import (
            choose_aggregate,
            reagg_expr,
        )

        chosen = choose_aggregate(cube, sel, cube.aggregates)
        if chosen is not None:
            return execute_select(
                sel, cube, chosen.table, lambda m: reagg_expr(cube, m)
            )
    star = cube.star_builder(*star_args)
    return execute_select(sel, cube, star, cube.measure_agg)


_DRILLTHROUGH_RE = re.compile(
    r"^\s*DRILLTHROUGH\s+(?:MAXROWS\s+(\d+)\s+)?(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def mdx_drillthrough(cube: CubeDef, mdx: str, *star_args) -> DataFrame:
    """``DRILLTHROUGH [MAXROWS n] SELECT ... FROM [Cube] [WHERE ...]``
    — the cell-inspection gesture: instead of aggregating, return the
    FACT ROWS that contribute to the selected cells (Mondrian's
    drillthrough contract; a BI user double-clicks a cell to audit the
    numbers behind it). The inner SELECT parses exactly like a query —
    calculated members and wrappers are refused (they have no row-level
    meaning) — and every restriction that would have applied BEFORE
    aggregation (the SELECT's dices, through the same
    :func:`apply_dices`) filters the star; ``.Members`` selections
    restrict nothing, as in aggregation. Returned columns are the
    cube's level columns plus each measure's source column, in
    declaration order — the columns a cell is made of. MAXROWS caps
    the result via ``limit`` (an arbitrary-but-bounded sample, like
    Mondrian's).

    100 TB: drillthrough is a filtered SCAN, no shuffle at all — the
    dices push through the star's broadcast joins into the fact scan,
    and with MAXROWS Spark's CollectLimit short-circuits after the
    first matching partitions."""
    m = _DRILLTHROUGH_RE.match(mdx)
    if not m or not m.group(2).lstrip().upper().startswith(("SELECT", "WITH")):
        raise MdxError(
            "DRILLTHROUGH needs 'DRILLTHROUGH [MAXROWS n] SELECT ...', "
            f"got {mdx.strip()[:60]!r}"
        )
    maxrows = int(m.group(1)) if m.group(1) else None
    if maxrows is not None and maxrows < 1:
        raise MdxError(f"MAXROWS must be >= 1, got {maxrows}")
    sel = parse_mdx(m.group(2), cube)
    if sel.calc_members or sel.wrappers:
        raise MdxError(
            "DRILLTHROUGH returns raw fact rows — calculated members "
            "and TOPCOUNT/ORDER/FILTER/HEAD/TAIL have no row-level "
            "meaning here"
        )
    star = apply_dices(cube.star_builder(*star_args), sel.dices())
    cols: list[str] = []
    for c in cube.levels.values():
        if c not in cols:
            cols.append(c)
    for _agg, src, _alias in cube.measures.values():
        if src not in cols:
            cols.append(src)
    out = star.select(*cols)
    return out.limit(maxrows) if maxrows is not None else out
