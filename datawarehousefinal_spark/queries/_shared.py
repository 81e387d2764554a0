"""Helpers used by more than one family module.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.textnorm import _ACCENTED, _PLAIN
from datawarehousefinal_spark.operators.relation import Rel
from datawarehousefinal_spark.sources.testdata import fixture_views


def _norm_sql(expr: str) -> str:
    """DuckDB SQL equivalent of textnorm.normalize_text, generated from the
    SAME accent-map constants so the two sides can never drift."""
    return (
        f"trim(regexp_replace(translate(lower({expr}), "
        f"'{_ACCENTED}', '{_PLAIN}'), '\\s+', ' ', 'g'))"
    )


def _movimientos_star(spark, sf_dir: str) -> Rel:
    """The Movimientos star (orders with their customer and nation,
    dims broadcast) as SQL over the fixture views: the reference's
    Fecha, Persona.Nacionalidad and Cliente.Segmento levels plus the
    measures' columns."""
    o, c, n = fixture_views(spark, sf_dir, "orders", "customer", "nation")
    return Rel(spark, f"""SELECT /*+ BROADCAST(c, n) */
  year(o.o_orderdate) AS anio, month(o.o_orderdate) AS mes,
  dayofmonth(o.o_orderdate) AS dia, n.n_name AS nacionalidad,
  c.c_mktsegment AS segmento, o.o_custkey, o.o_totalprice
FROM {o} o
LEFT JOIN {c} c ON o.o_custkey = c.c_custkey
LEFT JOIN {n} n ON c.c_nationkey = n.n_nationkey""")


@contextmanager
def _scratch_path(name: str, sf_dir: str, suffix: str = "") -> Iterator[str]:
    """Per-call scratch location for sink-roundtrip faces, removed when
    the block exits.

    ``tempfile.mkdtemp`` makes the directory unique per call, so no
    other call can touch its files. A face writes and reads back inside
    the block and returns :func:`local_result`, which no longer reads
    the files once the directory is gone.
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = tempfile.mkdtemp(prefix=f"dwf_{name}_{tag}_")
    try:
        yield f"{base}/data{suffix}"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _money_sum(col: str):
    """Order-invariant sum of a 2-decimal money column: accumulate in
    decimal(18,2) (exact — the inputs carry ≤2 decimals), serve as
    double. Double accumulation reassociates under partial-agg merge
    and AQE re-partitioning, flipping last ulps run-to-run — exactly
    the hash-boundary jitter behind the r05/r06 sink-roundtrip flakes.
    Oracles replay ``CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


# Shingle width for the documents corpus: its tiny synthetic vocabulary
# (~30 words) makes 5-grams near-useless as a blocking key (avg posting list
# = 10% of the corpus); 14-char shingles span ~2.5 words and separate the
# planted near-dups (J >= 0.92) from the baseline (J ~ 0.001) cleanly.
_W = 14


# DuckDB shingle set (list comprehension mirroring dedup.char_shingles).
_SHINGLES_SQL = (
    f"list_distinct([substr(text, i, {_W}) "
    f"for i in generate_series(1, greatest(length(text) - {_W - 1}, 1))])"
)


# DuckDB token list mirroring textstats.whitespace_tokens.
_TOKS_SQL = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
)


_JACCARD_PAIRS_SQL = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, c / (x.n + y.n - c) AS jaccard
    FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
    WHERE c / (x.n + y.n - c) >= 0.9
"""


# The post-CDC orders snapshot: the batch MERGE (etl.cdc_apply_changes) and
# its foreachBatch stream (streaming.streaming_cdc_apply) answer to one oracle.
_CDC_APPLY_ORACLE = """
    WITH changes AS (
      SELECT o_orderkey, 'U' AS op, 1 AS seq,
             'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 'D', 2, NULL, NULL
      FROM orders WHERE o_orderkey % 11 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'I', 1, 'N', 1.0
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
        FROM changes) t
      WHERE rn = 1
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM latest WHERE op <> 'D'
    """
