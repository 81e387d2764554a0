"""Oracle-differential tests: every registered query with an oracle must
hash-match DuckDB at sf0.001 (fast) — the driver repeats this at sf0.01.

Every face must also leave nothing behind: no persisted RDD (a Dataset
cache or a local-checkpoint block) and no ``dwf_*`` scratch dir."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import compare

# streaming_cdc_apply returns a lazy read of its per-call snapshot dir:
# the snapshot is the whole orders table, too big to collect to the
# driver, so the dir outlives the call (the JVM deletes it at exit).
_KEEPS_SCRATCH_DIR = {"streaming_cdc_apply"}


def _oracle_cases():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return sorted(o.keys() & q.keys())


def _persisted_rdd_ids(spark) -> set[int]:
    # Compare id SETS: the async ContextCleaner may drop an earlier
    # test's leftovers at any moment, so only NEW ids count as a leak.
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def _scratch_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "dwf_*")))


def _assert_left_nothing(spark, name, rdds_before, dirs_before):
    leaked = _persisted_rdd_ids(spark) - rdds_before
    assert not leaked, f"{name} left persisted RDDs {sorted(leaked)}"
    if name not in _KEEPS_SCRATCH_DIR:
        left = _scratch_dirs() - dirs_before
        assert not left, f"{name} left scratch dirs {sorted(left)}"


@pytest.mark.parametrize("name", _oracle_cases())
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    rdds, dirs = _persisted_rdd_ids(spark), _scratch_dirs()
    result = compare(spark, sf_dir, q, sql)
    assert result["ok"], f"{name}: {result}"
    _assert_left_nothing(spark, name, rdds, dirs)


def test_unoracled_faces_leave_nothing(spark, sf_dir):
    """The faces without an oracle (ML training, 2-14 s each) get the
    same leave-nothing check, run once per face."""
    q = entrymod.queries()
    for name in sorted(q.keys() - entrymod.oracle_sql().keys()):
        rdds, dirs = _persisted_rdd_ids(spark), _scratch_dirs()
        assert q[name](spark, sf_dir).collect(), name
        _assert_left_nothing(spark, name, rdds, dirs)


def test_all_queries_have_entries():
    q = entrymod.queries()
    assert q, "queries() must not be empty"
    for name, fn in q.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
