from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
# The scale bench.py times: the sf0.1 set beside the oracle fixture.
SF_DIR_BENCH = os.path.join(os.path.dirname(SF_DIR_ORACLE), "sf0.1")

# ---------------------------------------------------------------------------
# Deep-sweep gate. The full suite outgrew the round driver's pytest window
# (r13: truncated at 81% with zero failures — a verify signal lost), so the
# slowest redundancy-bearing batteries are opt-IN: multi-face sweep files
# whose targeted twins always run (test_plans.py pins the same plan
# contracts face-by-face; the per-face MDX oracles and the seeded
# fuzz_differential battery stay in the default run), plus a handful of
# individual >30 s model-quality tests whose structural/parity twins also
# stay. Set SPARK_GRAFT_DEEP_TESTS=1 to run everything (done at least once
# per round before the close; the gate changes coverage of a default run,
# never of the round).
_DEEP_SWEEP_FILES = {
    "test_plan_sweep.py",
    "test_mdx_fuzz.py",
    "test_stability_sweep.py",
}
_DEEP_SWEEP_TESTS = {
    "test_classifier_zoo_trains_and_separates",
    "test_ivf_pq_recall_on_clustered_corpus",
    "test_rbf_svc_approx_beats_linear_on_ring",
    "test_denormalized_dataset_shape",
    "test_resize_nearest_known_pixels",
    "test_frame_byte_means_closed_form",
    "test_unoracled_faces_leave_nothing",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_DEEP_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="deep sweep (opt-in): set SPARK_GRAFT_DEEP_TESTS=1"
    )
    for item in items:
        name = item.name.split("[")[0]
        if (
            os.path.basename(str(item.fspath)) in _DEEP_SWEEP_FILES
            or name in _DEEP_SWEEP_TESTS
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from datawarehousefinal_spark.session import get_spark

    spark = get_spark(app_name="dwf-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_DIR_ORACLE


@pytest.fixture(scope="session")
def bench_sf_dir() -> str:
    return SF_DIR_BENCH
