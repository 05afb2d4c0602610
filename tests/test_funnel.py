"""Contract of the curation funnel llm_data_pipeline_v4..v9 (built from
dedup._STAGES / _TAILS / _VERSIONS): the published columns, the
monotone per-source counts, and the number of lineage cuts in the
plan of the checkpointed versions."""

from __future__ import annotations

import pytest

_COUNTS = {
    "v4": ["n_after_exact", "n_after_quality"],
    "v5": [
        "n_after_domain",
        "n_after_exact",
        "n_after_quality",
        "n_after_containment",
    ],
    "v6": [
        "n_after_domain",
        "n_after_exact",
        "n_after_boilerplate",
        "n_after_quality",
        "n_after_containment",
        "n_after_semantic",
    ],
}
_COUNTS["v7"] = _COUNTS["v6"] + ["n_after_decontam"]
_COUNTS["v8"] = ["n_after_url"] + _COUNTS["v7"]
_COUNTS["v9"] = _COUNTS["v8"]

_ENTROPY = ["n_kept", "kept_tokens", "mean_entropy_kept"]
_MIX = ["n_kept", "kept_tokens", "mean_dsir_kept", "q_temp", "boost"]
_EPOCHS = ["epochs_at_4x", "over_repeat"]
_BPE = ["bpe_symbols_kept", "bpe_symbols_per_token"]
_TAIL_COLS = {
    "v4": _ENTROPY,
    "v5": _ENTROPY,
    "v6": _MIX,
    "v7": _MIX,
    "v8": _MIX + _EPOCHS,
    "v9": _MIX + _EPOCHS + _BPE,
}

# (LogicalRDD leaves = localCheckpoint cuts, InMemoryRelation leaves =
# persisted layers) in the optimized plan, as measured on the
# hand-written v6..v9 bodies the stage list replaced
_CUTS = {"v6": (2, 7), "v7": (3, 7), "v8": (4, 7), "v9": (6, 7)}


@pytest.mark.parametrize("version", ["v4", "v5", "v6", "v7", "v8", "v9"])
def test_funnel_contract(spark, sf_dir, version):
    from landsat_tair_data_pipeline_spark.registry import spark_queries

    df = spark_queries()[f"llm_data_pipeline_{version}"](spark, sf_dir)
    counts = ["n_raw"] + _COUNTS[version]
    assert df.columns == ["source"] + counts + _TAIL_COLS[version]

    if version in _CUTS:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        cuts = (names.count("LogicalRDD"), names.count("InMemoryRelation"))
        assert cuts == _CUTS[version]

    rows = df.collect()
    assert rows
    for r in rows:
        chain = [r[c] for c in counts] + [r["n_kept"]]
        assert all(a >= b for a, b in zip(chain, chain[1:])), (r["source"], chain)
