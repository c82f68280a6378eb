from __future__ import annotations

import os

import pytest

from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig
from reddit_apache_airflow_postgres_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Two-tier suite (r13 verdict #1): the full suite outgrew the driver's
# verify window (676 tests / ~3,550 s idle — the multi-SF oracle
# chains, estate fixtures and full-registry sweeps are ~3,000 s of it),
# so the driver's `pytest tests/` run was cut off mid-suite and the
# round closed without a driver-witnessed green gate. Default tier =
# everything except tests marked `full` (the fast tier still covers
# every operator, the driver-checked oracle subset, and the bench
# queries); SPARK_GRAFT_FULL_TESTS=1 runs the complete suite — the
# GATE_RUNS ritual records one full-tier run per substantive commit
# batch, so nothing is verified less often than before, it is just no
# longer all inside the driver's window.
RUN_FULL_TIER = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") == "1"

# Full-tier membership, centralized: every test here took >= ~8 s in
# the opening r14 full run (durations recorded in GATE_RUNS.md) and is
# an invariant/parity/chain test whose coverage the ritual preserves.
# Selection principles: the default tier keeps (a) every operator's
# functional tests, (b) the driver-checked + bench-query oracle subset
# (tests/test_entry_oracle.py handles that split itself), (c) one
# stream-vs-replay parity smoke (test_verified_gate_stream_matches_
# batch_replay) guarding the replay-restructure surface. Names are
# matched on file::test (parametrizations included), so a renamed test
# would fall back into the default tier and eat its time window;
# tests/test_tiers.py fails when an entry names no existing test.
FULL_TIER_TESTS = {
    "test_dedup_gate.py::test_admission_rate_drift_stream_matches_replay",
    "test_dedup_gate.py::test_bucketed_sig_state_verified_gate_parity",
    "test_dedup_gate.py::test_compact_state_multi_file_fold_preserves_decisions",
    "test_dedup_gate.py::test_hybrid_bucketed_drain_parity_refresh_and_fallback",
    "test_dedup_gate.py::test_state_compaction_preserves_gate_decisions",
    "test_dedup_gate.py::test_verified_gate_meta_guard_and_compaction",
    "test_dedup_gate.py::test_verified_gate_stream_persists_dup_of_attribution",
    "test_drift_gate.py::test_gate_with_ks_threshold_quarantines_and_logs_ks",
    "test_drift_gate.py::test_group_gate_ks_quarantines_only_the_shifted_feed",
    "test_drift_gate.py::test_in_drain_refresh_follows_legit_drift_and_matches_manual_sequence",
    "test_drift_gate.py::test_refresh_group_reference_per_feed_hysteresis",
    "test_drift_gate.py::test_refresh_reference_rebaselines_from_admitted_window",
    "test_forget.py::test_forget_sweeps_every_estate_member",
    "test_forget_interleave.py::test_drain_interleaved_mid_sweep_cannot_resurrect",
    "test_forget_interleave.py::test_quiescent_sweep_converges_in_two_passes",
    "test_forget_interleave.py::test_sweep_fails_loud_when_writers_outpace_it",
    "test_index_rebuild.py::test_media_index_rebuild_keeps_frozen_codec",
    "test_index_rebuild.py::test_rebuild_triggers_on_drift_and_improves_recall",
    "test_index_rebuild.py::test_text_index_rebuild_keeps_frozen_featurizer",
    "test_ingest_pipeline.py::test_chain_dedup_policy_verified_vs_bucket",
    "test_ingest_pipeline.py::test_chain_matches_batch_replay_registry_queries",
    "test_ingest_pipeline.py::test_full_chain_and_restart",
    "test_ingest_pipeline.py::test_full_chain_span_stage_matches_batch_replay",
    "test_ingest_pipeline.py::test_group_chain_matches_batch_replay",
    "test_ingest_pipeline.py::test_group_full_chain_matches_batch_replay",
    "test_maintenance.py::test_execute_fails_loud_on_foreign_plan_row",
    "test_maintenance.py::test_plan_execute_replan_reaches_ok",
    "test_media_gate.py::test_gate_media_batch_first_wins_and_state",
    "test_media_gate.py::test_media_bucketed_state_parity",
    "test_media_gate.py::test_media_chain_gate_kwargs_logs_and_floor",
    "test_media_gate.py::test_media_gate_min_bytes_floor_claims_no_buckets",
    "test_media_gate.py::test_media_gate_stream_matches_batch_replay",
    "test_media_gate.py::test_media_gate_stream_persists_dup_of_attribution",
    "test_media_gate.py::test_media_hybrid_bucketed_drain_parity_refresh_and_fallback",
    "test_media_gate.py::test_media_ingest_chain_drift_dedup_index",
    "test_media_index_stream.py::test_streamed_media_appends_equal_batch_appends_and_restart",
    "test_multimodal.py::test_media_vectors_through_persisted_stores",
    "test_multimodal_gate.py::test_multimodal_ingest_chain_end_to_end",
    "test_multimodal_gate.py::test_multimodal_stream_matches_batch_replay",
    "test_multimodal_gate.py::test_unified_differs_from_independent_gates",
    "test_multimodal_gate.py::test_unified_gate_rejects_on_either_modality",
    "test_neardup.py::test_verify_routing_branches_agree",
    "test_operational_loop.py::test_estate_catalog_over_loop_end_state",
    "test_operational_loop.py::test_media_operational_loop_chain_erase_rebuild_readd",
    "test_operational_loop.py::test_operational_loop_ingest_erase_rebuild_readd",
    "test_plans.py::test_registry_bnlj_build_sides_are_declared_small",
    "test_plans.py::test_registry_global_windows_are_declared_bounded",
    "test_pq.py::test_opq_perm_recovers_recall_on_skewed_corpus",
    "test_pq.py::test_residual_ivfpq_wins_on_clustered_data",
    "test_properties.py::test_bm25_matches_python_reference",
    "test_properties.py::test_cms_property_matches_python_reference",
    "test_properties.py::test_qsketch_bins_match_python_reference",
    "test_snapshot_pins.py::test_build_and_advance_text_index_at_pins",
    "test_span_gate.py::test_multi_batch_first_wins_and_sequential_replay_parity",
    "test_span_gate.py::test_stream_equals_online_relational_form",
    "test_sq_binary.py::test_binary_and_matryoshka_are_deterministic",
    "test_streaming.py::test_combine_stream_crash_recovery",
    "test_streaming.py::test_combine_stream_matches_batch_then_upserts",
    "test_streaming.py::test_dedup_within_watermark",
    "test_streaming.py::test_interval_join_stream_equals_batch",
    "test_streaming.py::test_sliding_and_session_streams_equal_batch",
    "test_streaming.py::test_stateful_user_totals",
    "test_streaming.py::test_stream_static_enrichment_equals_batch",
    "test_text_index_stream.py::test_full_chain_index_stage_serves_admitted_docs",
    "test_text_index_stream.py::test_streamed_text_appends_equal_batch_appends_and_restart",
    "test_text_index_stream.py::test_text_index_serves_identical_topk_to_batch_embed_path",
    "test_vector_index.py::test_append_of_live_tombstoned_id_raises_for_all_stores",
    "test_vector_index.py::test_full_compaction_equals_rebuild_from_survivors",
    "test_vector_index.py::test_ivfpq_and_binary_deletes_survive_compaction",
    "test_vector_index.py::test_ivfpq_append_and_compaction_preserve_results_and_pruning",
    "test_vector_index_stream.py::test_streamed_binary_appends_equal_union_build",
    "test_vector_index_stream.py::test_streamed_deletes_shadow_then_threshold_compaction_drops",
    "test_vector_index_stream.py::test_streamed_ivf_postings_appends",
    "test_vector_index_stream.py::test_streamed_ivfpq_appends_equal_batch_appends",
}


def pytest_collection_modifyitems(config, items):
    if RUN_FULL_TIER:
        return
    skip_full = pytest.mark.skip(
        reason="full-tier test (set SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        base = item.nodeid.rsplit("/", 1)[-1].split("[", 1)[0]
        if "full" in item.keywords or base in FULL_TIER_TESTS:
            item.add_marker(skip_full)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg():
    return EngineConfig(gdpr_salt="test-salt")
