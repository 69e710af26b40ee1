import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "quick: <5 min gate-mirror tier (r4 verdict item 5)"
    )
    config.addinivalue_line(
        "markers",
        "slow: full oracle-parity sweep + real-world e2e (run per-round,"
        " not per-change)",
    )


def pytest_collection_modifyitems(config, items):
    """Tier the 950+-test suite (r4 verdict item 5: the full run is
    ~30 min — past per-change use). `-m quick` = the driver-gate mirror
    (parity rows for the 50 gate mains) + one representative test per
    operator-family module; `-m "not slow"` = everything but the full
    496-query parity sweep and the real-extract e2e runs."""
    from osm2vdv462_spark import queries as q

    gate = set(q.queries())
    # the concurrent stage-DAG runner's guards (determinism, failure,
    # stitch-once, job group, cache scope, scan-cache fill) run per change
    runner_quick = {
        "test_two_parallelism_levels_byte_identical",
        "test_failed_stage_reraises_then_resumes",
        "test_stitcher_runs_once_cold_and_never_resumed",
        "test_every_cold_job_in_callers_group",
        "test_pbf_export_releases_only_its_own_caches",
        "test_pbf_partial_world_resume_fills_scan_once",
    }
    seen_mod: set[str] = set()
    for item in items:
        mod = item.module.__name__
        if mod == "test_oracle_parity":
            if item.name.startswith("test_query_matches_oracle["):
                name = item.name.split("[", 1)[1].rstrip("]")
                if name in gate:
                    item.add_marker(pytest.mark.quick)
                else:
                    item.add_marker(pytest.mark.slow)
            else:  # registry-budget / structural checks: cheap, load-bearing
                item.add_marker(pytest.mark.quick)
        elif mod == "test_real_world":
            item.add_marker(pytest.mark.slow)
        elif mod == "test_checkpoint" and item.name in runner_quick:
            item.add_marker(pytest.mark.quick)
        elif mod == "test_session_scope":  # the gate's session hygiene
            item.add_marker(pytest.mark.quick)
        elif mod == "test_jvm_pip":  # the geotag operator's plan and map
            item.add_marker(pytest.mark.quick)
        elif mod not in seen_mod:
            # one representative per operator-family module
            item.add_marker(pytest.mark.quick)
            seen_mod.add(mod)


@pytest.fixture(scope="session")
def spark():
    from osm2vdv462_spark.session import get_spark

    s = get_spark("tests", cores=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
