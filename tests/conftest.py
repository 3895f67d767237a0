import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from storagetapper_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# The default-lane exclusion list (VERDICT r10 #1; see pytest.ini).
# Kept HERE, in one place, instead of 26 decorators across 12 files so
# the lane can be retuned against `--durations` output in one edit.
# Criterion: >13s on the round-11 `--durations=60` full run — almost
# all are multi-trigger availableNow streaming end-to-ends (checkpoint
# + state store + several micro-batches each) plus the 440-query
# plan-compile scale guard and the two fuzz replays.  The full suite
# (default lane + slow) runs at every round close: pytest -q -m "".
_SLOW = {
    # test_stateful's 242s was a conflate_cdc availableNow-termination
    # bug, fixed this round (19s now) — NOT excluded.
    "test_plan_shapes.py::test_no_registry_query_windows_raw_data_in_one_task",
    "test_evolution_fuzz.py::test_evolving_batches_match_replay_model",
    "test_absorption_stream.py::test_streamed_absorption_equals_registered_batch_query",
    "test_streaming_history.py::test_delta_fold_equals_direct_aggregate",
    "test_streaming_curation.py::test_available_now_stream",
    "test_asof_pandas_parity.py::test_matches_pandas_merge_asof",
    "test_streaming_history.py::test_one_feed_three_consistent_products",
    "test_streaming_curation.py::test_stream_accumulation_equals_one_shot",
    "test_streaming_sprt.py::test_incremental_equals_one_shot_and_batch_query",
    "test_lsh_star_properties.py::test_star_clusters_equal_clique_clusters",
    "test_streaming_history.py::test_ivm_sink_end_to_end",
    "test_streaming_attribution.py::test_incremental_folding_matches_batch_query",
    "test_streaming_semantic.py::test_incremental_union_equals_one_shot",
    "test_streaming_curation.py::test_contamination_gate",
    "test_streaming_importance.py::test_incremental_equals_batch",
    "test_streaming_semantic.py::test_replayed_batch_reproduces_its_pairs",
    "test_streaming_sprt.py::test_decision_freezes_after_crossing",
    "test_streaming_attribution.py::test_attribution_sink_end_to_end",
    "test_streaming_cusum.py::test_incremental_folding_equals_one_shot",
    "test_graph.py::test_directed_personalized_pagerank_conserves_mass",
    "test_streaming_sprt.py::test_availablenow_sink_run",
    "test_streaming.py::test_stream_stream_left_outer_join",
    "test_streaming_history.py::test_scd2_sink_end_to_end",
    "test_streaming_curation.py::test_gate_dedup_and_cross_batch",
    "test_streaming_curation.py::test_replay_idempotent",
    # the query-level cache check: five graph queries stay in the
    # default lane, the other thirteen run here
    *(f"test_graph.py::test_graph_query_leaves_no_cache_entry[{q}]"
      for q in ("graph_jaccard_link_prediction", "graph_ra_link_prediction",
                "graph_jaccard_link_prediction_capped",
                "graph_minhash_link_prediction",
                "graph_degree_assortativity",
                "graph_clustering_coefficient",
                "graph_triangles_degree_oriented", "graph_rich_club",
                "graph_ktruss", "graph_louvain_move_round",
                "graph_pagerank_copurchase", "graph_triangles",
                "graph_ppr_brand")),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = f"{os.path.basename(item.fspath)}::{item.name}"
        if key in _SLOW:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def assert_only_current():
    """Check a state table's directory after its sink ran: it holds
    ``current`` (plus any ``others``, e.g. side tables) and no version or
    staging directory, and ``current`` carries the commit marker of
    ``batch_id`` (statefs.commit_state).  A bucketed ``current`` must
    record one bucket count, hold no data file outside its buckets, and
    every bucket directory must be below the count and hold data.
    Returns the bucket count (1: flat)."""
    def check(table_dir, batch_id, others=()):
        names = sorted(os.listdir(table_dir))
        assert names == sorted(["current", *others]), names
        cur = os.path.join(table_dir, "current")
        marks = [n for n in os.listdir(cur) if n.startswith("_batch_")]
        assert marks == [f"_batch_{batch_id}"], marks
        counts = [int(n[len("_buckets_"):]) for n in os.listdir(cur)
                  if n.startswith("_buckets_")]
        buckets = [n for n in os.listdir(cur) if n.startswith("_bucket=")]
        if not counts and not buckets:
            return 1
        assert len(counts) == 1, counts
        assert not [n for n in os.listdir(cur) if n.endswith(".parquet")]
        for b in buckets:
            assert 0 <= int(b[len("_bucket="):]) < counts[0], b
            assert [n for n in os.listdir(os.path.join(cur, b))
                    if n.endswith(".parquet")], b
        return counts[0]
    return check
