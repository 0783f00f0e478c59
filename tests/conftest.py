from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from wwwision_importservice_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# The opt-in ``slow`` tier (r15, VERDICT r14 ask #2): the full default
# suite had grown to 37:29 and the round driver's verify window cut it
# off mid-run, reporting ``tests_ok: false`` with zero failures. The
# heavyweight differential/lifecycle tests below (each >=10s in the
# r15 baseline durations run, 1035s combined — recovery fuzz, BPE
# training differentials, IVF/PQ recall sweeps, corpus-pipeline e2e
# examples) are marked ``slow`` and excluded from the default selection
# (see pytest.ini addopts), bringing the default tier to ~20 min.
# They still run with ``pytest -m slow`` (and the full pre-commit
# discipline is: default tier + slow tier + sf001 tier, all green).
# Oracle-parity tests are deliberately NOT in this list regardless of
# duration — they are the per-query correctness net the default tier
# exists to provide.
SLOW_TESTS = {
    "tests/test_diff_properties.py::test_diff_matches_reference_model",
    "tests/test_extensions.py::test_append_manifest_n_packs_merge_boundary_cases",
    "tests/test_extensions.py::test_append_recovery_fuzz_protocol_mutations",
    "tests/test_extensions.py::test_append_recovery_reproduces_manifest_byte_identically",
    "tests/test_extensions.py::test_bpe_batched_merges_equal_sequential",
    "tests/test_extensions.py::test_bpe_greedy_exhaustion_on_real_corpus",
    "tests/test_extensions.py::test_bpe_training_matches_reference_model",
    "tests/test_extensions.py::test_connected_components_fast_path_matches_distributed",
    "tests/test_extensions.py::test_connected_components_foreign_pair_ids_agree",
    "tests/test_extensions.py::test_corpus_pipeline_bpe_budget_path",
    "tests/test_extensions.py::test_corpus_pipeline_example_runs",
    "tests/test_extensions.py::test_corpus_pipeline_temperature_path",
    "tests/test_extensions.py::test_fuzzy_self_pairs_property_vs_model",
    "tests/test_extensions.py::test_gopher_pandas_matches_expression_form",
    "tests/test_extensions.py::test_ivf_index_rebuild_clears_previous_generation",
    "tests/test_extensions.py::test_ivf_index_staleness_observable_and_rebuild_recovers",
    "tests/test_extensions.py::test_ivf_pq_index_full_probe_equals_pq_scan",
    "tests/test_extensions.py::test_ivf_pq_rerank_full_probe_equals_in_query",
    "tests/test_extensions.py::test_kmeans_matches_python_model",
    "tests/test_extensions.py::test_multimodal_sizing_file_sample_bounded_and_unbiased",
    "tests/test_extensions.py::test_pq_adc_and_rerank_recall_vs_exact",
    "tests/test_extensions.py::test_pq_encode_shape_and_determinism",
    "tests/test_extensions.py::test_single_writer_guard_on_persisted_state",
    "tests/test_extensions.py::test_sketch_store_append_merge_compact",
    "tests/test_extensions.py::test_sketch_store_churn_append_compact_crash_recover",
    "tests/test_extensions.py::test_sketch_store_replay_after_compaction_not_double_counted",
    "tests/test_extensions.py::test_store_drift_detects_shift_and_stability",
    "tests/test_extensions.py::test_train_ivf_centroids_improves_recall",
    "tests/test_streaming.py::test_lsh_index_compaction_preserves_decisions",
    "tests/test_streaming.py::test_near_dup_gate_under_real_stream_engine",
    "tests/test_streaming.py::test_streaming_ingest_example",
    "tests/test_temporal_properties.py::test_as_of_join_matches_bruteforce",
}


def stale_slow_tests(items) -> list[str]:
    """SLOW_TESTS entries whose test file was collected but which name no
    test that file defines (renamed or deleted): such an entry would
    silently drop its test back into the default tier. Entries of files
    not collected this session are not judged, and a test that exists
    but was narrowed away (``file::name`` arguments, ``--lf``) is not
    stale."""
    modules = {
        item.nodeid.split("::")[0]: item.module
        for item in items
        if getattr(item, "module", None) is not None
    }
    collected = {item.nodeid for item in items}
    stale = []
    for nodeid in sorted(SLOW_TESTS):
        path, *names = nodeid.split("::")
        if path not in modules or nodeid in collected:
            continue
        obj = modules[path]
        for name in names:
            obj = getattr(obj, name, None)
        if not callable(obj):
            stale.append(nodeid)
    return stale


def pytest_collection_modifyitems(config, items):
    stale = stale_slow_tests(items)
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py SLOW_TESTS names tests that do not exist: "
            + ", ".join(stale)
        )
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def mutate_blob(rng, base: bytes) -> bytes:
    """Shared codec-fuzz mutator: one of byte flips (1-4), truncation,
    or garbage insertion (1-8 bytes) — used by the image-family and WAV
    error-contract fuzz tests so the mutation model can't drift between
    them."""
    blob = bytearray(base)
    op = rng.randrange(3)
    if op == 0:
        for _ in range(rng.randint(1, 4)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
    elif op == 1:
        blob = blob[: rng.randrange(1, len(blob))]
    else:
        pos = rng.randrange(len(blob))
        blob[pos:pos] = bytes(
            rng.randrange(256) for _ in range(rng.randint(1, 8))
        )
    return bytes(blob)
