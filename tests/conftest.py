import contextlib
import os
import types

import pytest

# -- slow tier (r12, round-11 verdict item 2) -------------------------------
#
# The full suite (~1150 tests) outgrew the driver's pytest budget (48+ min;
# the r11 driver run truncated at ~59%). The tests below are the heavy
# GOLDEN tiers — dialect/DDL sweeps, oracle-parity replays, graded-window
# rotation replays, trainer-convergence goldens — whose signal the driver
# already re-derives itself (its correctness pass runs every oracle-backed
# query against DuckDB each round). They carry @pytest.mark.slow, applied
# centrally here, and pytest.ini deselects them by default so the DEFAULT
# `pytest tests/` is the fast tier: every operator and every pinned plan
# shape, minutes not hours. Builders run the full suite with
#   pytest tests/ -m "slow or not slow"     (or SPARK_GRAFT_FULL_TESTS=1)
# before closing a round.

_SLOW_FILES = {
    # ClickHouse dialect/DDL golden sweeps (SQL-surface parity, not
    # operator coverage; every one of these is also exercised by the
    # driver-graded oracle queries that use the dialect layer)
    "test_ch_ddl.py",
    "test_oracle_parity.py",
    "test_functions.py",
}

_SLOW_TESTS = {
    # whole-registry plan sweep (constructs all 87 queries, incl. eager
    # trainers); the per-operator plan pins elsewhere stay fast
    "test_no_python_udfs_in_relational_tier",
    # end-to-end CLI goldens (CLI wiring is not a driver-graded surface)
    "test_cli_end_to_end_and_persistence",
    "test_cli_settings_observably_change_results",
    # index-compaction steady-state goldens (tombstone/optimize basics
    # stay fast)
    "test_minhash_index_compaction_steady_state",
    "test_bm25_index_compaction_steady_state",
    "test_parallel_compaction_matches_sequential",
    "test_bm25_auto_compact_keeps_files_bounded",
    "test_ann_index_compaction_and_file_stats",
    # trainer-convergence goldens (featurization/identity/replay pins stay)
    "test_count_features_learn_a_planted_marker",
    "test_ovr_multiclass_separates_planted_vocab",
    "test_sampled_training_still_separates_marker",
    "test_trained_classifier_separates_planted_labels",
    "test_exact_trainer_learns_the_planted_rule",
    # streaming steady-state goldens (incremental near-dedup stays fast)
    "test_stream_embedding_near_dup_admission",
    "test_stream_bm25_index_maintenance",
    "test_stream_quality_gate_equals_batch",
    # merge/flow equilibrium goldens (collapse-semantics pins stay fast)
    "test_merge_scheduler_bounds_parts_and_preserves_data",
    "test_flow_control_equilibrium_with_and_without_merges",
    "test_harness_with_background_merges_stays_below_throw",
    "test_harness_with_background_merge_pool",
    # hot-cluster guard: the megacluster bound stays fast; these two pin
    # secondary laws of the same guard
    "test_hot_cluster_guard_identical_mass_is_one_component",
    "test_hot_cluster_guard_mixed_keeps_cold_clusters_identical",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return  # builder escape hatch: nothing deselected
    for item in items:
        fname = item.fspath.basename
        name = item.name.split("[")[0]
        if (
            fname.startswith("test_ch_dialect")
            or fname in _SLOW_FILES
            or name in _SLOW_TESTS
            # graded-window rotation replays (round7..round11b): golden
            # re-runs of FORMER oracles the driver no longer grades; the
            # window-shape pin and bare-session contract stay fast
            or (fname == "test_driver_contract.py" and name.startswith("test_contract_round"))
        ):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from clickhousedatamocker_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@contextlib.contextmanager
def job_window(spark):
    """Count the Spark jobs submitted inside the ``with`` block.

    The count is the window of the DAG scheduler's next job id, as
    ``perfbench/tracing.py`` takes it, so it sees jobs from every thread and
    needs no listener. ``window.jobs`` is set when the block exits, and
    ``window.first`` is the id of the first job in the block."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = int(dag.nextJobId())
    window = types.SimpleNamespace(jobs=None, first=first)
    try:
        yield window
    finally:
        window.jobs = int(dag.nextJobId()) - first


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j gateway commands the driver sends inside the ``with``
    block: every JVM method call, field read, class lookup and object
    release is one. ``window.calls`` counts up while the block runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    window = types.SimpleNamespace(calls=0)

    def counted(*args, **kwargs):
        window.calls += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield window
    finally:
        del client.send_command  # the class's own method again


# -- the upstream reference snapshot ----------------------------------------
#
# PAPER.md §0 is written against a read-only snapshot of the upstream
# ClickHouseDataMocker repo, mounted at REFERENCE where it is available. The
# repo holds none of its files. One rule for every test that touches it: a
# reference file that exists is read verbatim; where it is absent, a test
# that only needs the object the file builds uses the package's own record
# of it, and a test whose subject is the file's text is skipped on its path.

REFERENCE = "/root/reference"
REF_SQL = f"{REFERENCE}/sql"
REF_CONF = f"{REFERENCE}/config/clickhouse.conf.example"

# create_distributed.sql:4-6 as SURVEY.md quotes it (the single-node
# cluster's Distributed alias, no sharding key)
CREATE_DISTRIBUTED_SQL = (
    "CREATE TABLE test_distributed AS test_local "
    "ENGINE = Distributed('default', currentDatabase(), test_local)"
)


def needs_reference(*paths):
    """skipif mark for a test whose subject is the text of these reference
    files; the test runs wherever all of them exist."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference snapshot file absent: {', '.join(missing)}"
    )


def _read_if_exists(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def create_test_local(engine):
    """Create ``test_local``: create_local.sql verbatim through ``engine.sql``
    where the reference holds it, else from ``schema.test_local_spec()`` (the
    package's record of the same schema, layout and settings)."""
    ddl = _read_if_exists(f"{REF_SQL}/create_local.sql")
    if ddl is not None:
        engine.sql(ddl)
    else:
        from clickhousedatamocker_spark.schema import test_local_spec

        engine.create_table(test_local_spec())


def create_distributed_sql():
    """create_distributed.sql verbatim where the reference holds it, else
    the statement SURVEY.md quotes from it."""
    return _read_if_exists(f"{REF_SQL}/create_distributed.sql") or CREATE_DISTRIBUTED_SQL


@pytest.fixture()
def tmp_warehouse(tmp_path):
    return str(tmp_path / "warehouse")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
