from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitdata_hfp_deduplicator_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Slow-tier policy (pytest.ini declares the marker).  The pre-commit
# loop runs `pytest -m "not slow"` (< ~3 min); CI/the driver runs the
# full suite.  Two tiers, one table:
#   * SLOW_FILES — files where essentially every test replays a real
#     micro-batch stream (checkpoint dirs, state stores, availableNow
#     drains): multi-second each by machinery, not data volume.
#   * SLOW_TESTS — individually heavy tests (>= ~3s measured) in
#     otherwise-fast files: property sweeps vs pure-python references,
#     stress-adjacent recall/scale checks.  The file's remaining tests
#     keep fast-tier coverage of the same operator.
# Durations measured on the full suite at HEAD (round 9); re-derive
# with `pytest --durations=0` if the split drifts.
# ---------------------------------------------------------------------------

SLOW_FILES = {
    "test_app_main.py",
    "test_heavyhitters_stream.py",
    "test_hfp_datasource.py",
    "test_lru_state.py",
    "test_neardup_stream.py",
    "test_pipeline.py",
    "test_state_recovery.py",
    "test_stateful.py",
    "test_streaming.py",
}

SLOW_TESTS = {
    "test_heavyhitters.py::test_property_matches_groupby_having",
    "test_properties.py::test_minhash_family_matches_pure_python",
    "test_properties.py::test_asof_join_matches_pure_python",
    "test_properties.py::test_containment_matches_reference",
    "test_properties.py::test_sharded_prefix_sum_matches_window_property",
    "test_similarity.py::test_simhash_pigeonhole_full_recall",
    "test_similarity.py::test_incremental_lsh_max_bucket_caps_both_sides",
    "test_similarity.py::test_skew_caps_identity_and_bite",
    "test_similarity.py::test_incremental_lsh_matches_full_batch_verdicts",
    "test_similarity.py::test_rplsh_recall_on_clustered_data",
    "test_corpus_ops.py::test_curate_and_seqpack_engine_parity_on_whitespace_runs",
    "test_kmeans.py::test_blas_kernel_agrees_with_fold",
    "test_kmeans.py::test_trained_ivf_recall_on_clustered_data",
    "test_clusters.py::test_large_small_star_random_graphs",
    "test_clusters.py::test_large_small_star_deep_chain",
    "test_clusters.py::test_distributed_path_matches_unionfind",
    "test_sources.py::test_socket_replay_golden",
    "test_pq.py::test_ivfadc_shortlist_restricted_to_probed_cells",
    "test_pq.py::test_ivfadc_query_self_recall",
    "test_pq.py::test_rerank_is_exact_within_shortlist",
    "test_pq.py::test_adc_equals_manual_lut_sum",
    "test_bpe.py::test_apply_merges_reproduces_trainer_final_state",
    "test_bpe.py::test_train_merges_matches_sequential_reference",
    "test_bloom.py::test_no_false_negatives",
    "test_scale_patterns.py::test_streaming_parquet_sink_exactly_once",
    "test_scale_patterns.py::test_alert_sink_callback",
    "test_plans.py::test_embed_ann_ivfpq_codes_join_cell_pruned",
    "test_plans.py::test_similarity_pair_joins_no_cartesian",
    "test_plans.py::test_embed_ann_pq_raw_vectors_never_shuffled",
    "test_plans.py::test_incremental_lsh_keyed_joins_only",
    "test_plans.py::test_size_gate_arms_produce_identical_rows",
    "test_properties.py::test_dedup_first_wins_random_envelopes",
    "test_timeseries_sampling.py::test_sharded_prefix_sum_matches_single_window",
    "test_timeseries_sampling.py::test_stratified_quota_shrink_stable_and_partition_invariant",
    "test_bpe.py::test_apply_merges_encodes_held_out_docs",
    "test_kmeans.py::test_kmeans_iterations_tighten_clusters",
    "test_kmeans.py::test_kmeans_recovers_planted_clusters",
    "test_kmeans.py::test_kmeans_deterministic",
    "test_similarity.py::test_simhash_near_dups_have_small_hamming",
    "test_similarity.py::test_lsh_recall_vs_exact_jaccard",
    "test_similarity.py::test_cosine_dup_pairs_block_decomposition",
    "test_hfp.py::test_golden_unique_count_streaming",
    "test_canonicalize.py::test_dataframe_kernel_dedups_across_orders",
    "test_bloom.py::test_member_rowjoin_agrees_with_probe",
    "test_bloom.py::test_probe_is_deterministic_and_keeps_schema",
    "test_corpus_pipeline.py::test_curation_pipeline_accounts_for_every_row",
}


def pytest_collection_modifyitems(config, items):
    # Match on originalname (the bare function name), not item.name:
    # a later-parametrized test's ids become name[param] and would
    # silently drop out of the slow tier into the fast pre-commit run
    # (ADVICE r9).  Every SLOW_TESTS entry must match at least one
    # collected item so a renamed/deleted test can't leave a stale row.
    matched: set[str] = set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = getattr(item, "originalname", None) or item.name.split("[", 1)[0]
        key = f"{fname}::{base}"
        if fname in SLOW_FILES or key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(key)
    # only enforce on full-suite collections: a single-file/-k run
    # legitimately collects a subset of the table
    if len(items) > 200:
        stale = SLOW_TESTS - matched
        assert not stale, f"SLOW_TESTS entries matched no collected test: {stale}"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def hfp_feed():
    """Generator of a deterministic HFP line feed for hermetic tests:
    ``hfp_feed(n_msgs, seed)`` returns ``(lines, rows)`` — the raw
    ``bytes`` lines to write, and the ``(server_ts, topic, payload)``
    row each non-blank line parses to, in file order.

    About a third of the messages get a second copy later in the feed
    (new server_ts, same topic and payload: a duplicate).  Topics carry
    multibyte UTF-8 destinations and one with a space; some lines end
    in ``\\r\\n``, and blank lines are interspersed."""
    import random

    dests = ["Itäkeskus", "Töölö", "Elielinaukio 2", "Malmi"]

    def make(n_msgs: int, seed: int = 7):
        rng = random.Random(seed)
        msgs = []
        for i in range(n_msgs):
            veh = rng.randrange(40)
            topic = (
                f"/hfp/v2/journey/ongoing/vp/bus/0022/{veh:05d}/1055/1/"
                f"{rng.choice(dests)}/7:05/1454102/4/60;25/20/14/95"
            )
            payload = (
                f'{{"VP":{{"desi":"55","dir":"1","oper":22,"veh":{veh},'
                f'"tsi":{1571 * 10**6 + i},"spd":{rng.uniform(0, 20):.2f},'
                f'"stop":"Pasila","route":"1055"}}}}'
            )
            msgs.append((topic, payload))
        order = list(range(n_msgs)) + rng.sample(range(n_msgs), n_msgs // 3)
        order.sort(key=lambda i: i + rng.uniform(0, 40))
        lines, rows = [], []
        for k, i in enumerate(order):
            if rng.random() < 0.02:
                lines.append(rng.choice([b"\n", b"\r\n"]))
            ts = f"2019-10-14T10:{k // 600 % 60:02d}:{k // 10 % 60:02d}.{k % 10}00Z"
            end = "\r\n" if rng.random() < 0.2 else "\n"
            lines.append(f"{ts} {msgs[i][0]} {msgs[i][1]}{end}".encode())
            rows.append((ts, *msgs[i]))
        return lines, rows

    return make
