"""SQL text as the serving path's plan language.

A serving query (an MDX statement, a cube measure, an aggregate-table
refresh) compiles to ONE ``spark.sql`` statement: Spark parses and
analyzes the whole plan in a single JVM call, where building it one
Column at a time costs a py4j round trip per expression node. A
:class:`Rel` is a relation written as SQL text over session temp views
(the fixture registry, ``sources/testdata.fixture_views``), which a
compiler nests as a subquery. A DataFrame input still works: it is
referenced through a temp view under a name unique to the call, which
:meth:`Rel.df` registers just before the statement is analyzed and drops
right after, so concurrent statements never read each other's inputs
and no view outlives the call.

Identifiers are backtick-quoted by :func:`ident`; values that come from
a query's text (MDX member names) are bound as named parameters by the
compiler, never pasted into SQL.
"""

from __future__ import annotations

import itertools
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_frame_ids = itertools.count()


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


class Rel(NamedTuple):
    """A relation: a SQL query, plus the DataFrames its text references
    as ``(view name, frame)`` pairs."""

    spark: SparkSession
    sql: str
    frames: tuple[tuple[str, DataFrame], ...] = ()

    @classmethod
    def of(cls, src: Rel | DataFrame) -> Rel:
        """``src`` as a relation: a DataFrame is read through a per-call
        view."""
        if isinstance(src, Rel):
            return src
        name = f"__frame_{next(_frame_ids)}"
        return cls(
            src.sparkSession, f"SELECT * FROM {ident(name)}", ((name, src),)
        )

    def derive(self, sql: str) -> Rel:
        """A relation over this one: ``sql`` holds ``{rel}`` where this
        relation's query goes, as a parenthesized subquery."""
        query = sql.replace("{rel}", f"(\n{self.sql}\n)")
        return Rel(self.spark, query, self.frames)

    def df(self, params: dict | None = None) -> DataFrame:
        """Analyze the query as one statement, ``params`` bound to its
        ``:name`` markers."""
        for name, frame in self.frames:
            frame.createOrReplaceTempView(name)
        try:
            return self.spark.sql(self.sql, args=params or {})
        finally:
            if self.frames:
                catalog = self.spark.catalog
                for name, _frame in self.frames:
                    catalog.dropTempView(name)

    def dtypes(self) -> dict[str, str]:
        """Column name -> Spark type name (analysis only, no job)."""
        return dict(self.df().dtypes)

