from __future__ import annotations

import pytest

from unilever_scraping_etl_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# The `slow` lane (r16 VERDICT item 5 — see pytest.ini): every test
# that read >= 8 s in the round-17 full-suite durations profile
# (1,674 s total; these 51 sum to ~912 s). They are the randomized
# property / multi-scale reference sweeps whose operators also carry
# fast deterministic siblings in the default lane; the default lane
# (~760 s) stays the per-commit and driver gate, and the slow lane is
# run and recorded explicitly at round close. Centralized here (one
# list, auto-applied by name) so re-tiering after a durations profile
# is a one-line edit, not 51 scattered decorators.
_SLOW_TESTS = frozenset({
    "test_plan_linter_all_queries",
    "test_asof_join_sliced_hot_key_equals_plain",
    "test_kcore_random_graphs_match_reference",
    "test_streaming_incremental_rerank_composition",
    "test_reachability_random_graphs_match_reference",
    "test_lpa_random_graphs_match_reference",
    "test_stream_stream_interval_join",
    "test_interval_join_equals_naive_theta",
    "test_connected_components_star_variant",
    "test_merge_upsert_matches_python_reference",
    "test_islands_match_python_reference",
    "test_salsa_resists_tightly_knit_community",
    "test_watermarked_stream_runs",
    "test_robots_pipeline_matches_python_reference",
    "test_interval_overlap_join_equals_naive_theta",
    "test_salsa_stationary_is_degree_share",
    "test_stream_folds_equal_one_shot_merge",
    "test_salsa_random_graphs_match_reference",
    "test_simhash_guard_connectivity_property",
    "test_duplicate_spans_matches_python_reference",
    "test_structural_family_gate_off_results_unchanged",
    "test_hits_weighted_random_graphs_match_reference",
    "test_registered_domains_matches_psl_reference",
    "test_dsir_random_corpora_match_reference",
    "test_triangle_random_graphs_match_reference",
    "test_pagerank_matches_python_reference",
    "test_time_travel_and_vacuum",
    "test_hyperplane_guard_connectivity_property",
    "test_semdedup_random_vectors_match_reference",
    "test_versions_commit_monotonically_and_old_readable",
    "test_canonical_url_matches_python_reference",
    "test_minhash_guard_connectivity_property",
    "test_apply_in_pandas_with_state_running_totals",
    "test_exact_matches_python_reference",
    "test_bigram_lm_random_corpora_match_reference",
    "test_salsa_gate_plans_and_equality",
    "test_robots_delays_match_python_reference",
    "test_cocitation_random_graphs_match_reference",
    "test_r13_pagerank_family_plan_shapes",
    "test_salsa_null_parallel_and_empty_edges",
    "test_connected_components_rounds_log_diameter",
    "test_coreness_random_graphs_match_reference",
    "test_connected_components_star_two_lobe_property",
    "test_asof_join_property_vs_pandas_merge_asof",
    "test_driver_lane_matches_distributed_lane_random",
})


def pytest_collection_modifyitems(config, items):
    for item in items:
        name = getattr(item, "originalname", None) or item.name
        if name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def see_through_checkpoints(monkeypatch):
    """Make ``localCheckpoint`` the identity for one test, so a plan
    shows each round's join instead of a ``Scan ExistingRDD``. The
    classic DataFrame is patched: on PySpark 4 the abstract
    ``pyspark.sql.DataFrame`` is not the class sessions build."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True, storageLevel=None: self)


@pytest.fixture
def distributed_graph_lane(monkeypatch):
    """Set ``graph._LOCAL_EDGE_CAP`` to 0 for one test, so every
    non-empty graph given to k_core, core_number, reachability, hits
    or salsa takes the distributed lane: its plans, broadcast gates
    and per-round Spark jobs. Restored at teardown."""
    from unilever_scraping_etl_spark.operators import graph

    monkeypatch.setattr(graph, "_LOCAL_EDGE_CAP", 0)


@pytest.fixture
def graph_broadcast_gate(monkeypatch):
    """Return ``set_gate(on)``, which sets ``graph._BROADCAST_NODE_CAP``
    for the rest of the test: ``on=False`` makes it -1, so every
    graph operator called afterwards ships its node-bounded joins
    unhinted (the page-scale shuffle-join plan); ``on=True`` restores
    the default cap. The gate is read when an operator is called, so
    frames built before a switch keep their plan. Restored at
    teardown."""
    from unilever_scraping_etl_spark.operators import graph

    default = graph._BROADCAST_NODE_CAP

    def set_gate(on: bool) -> None:
        monkeypatch.setattr(graph, "_BROADCAST_NODE_CAP",
                            default if on else -1)
    return set_gate


@pytest.fixture
def cc_local_bound(monkeypatch):
    """Return ``set_bound(n)``, which sets
    ``dedup._CC_LOCAL_EDGES_DEFAULT`` to ``n`` for the rest of the
    test: ``connected_components`` calls made afterwards run the
    driver lane when the edge list has at most ``n`` rows and the
    distributed loop otherwise (``n=0``: every non-empty graph).
    Restored at teardown."""
    from unilever_scraping_etl_spark.operators import dedup

    def set_bound(n: int) -> None:
        monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES_DEFAULT", n)
    return set_bound
