"""Degenerate-but-valid inputs and cache ordering.

- The PQ/ADC search kernels on an embeddings table with no probe
  vector (no vec_id < _ADC_NQ): empty rankings, matching the oracle,
  instead of a numpy vstack/concatenate crash.
- The Landsat feature memo across a session switch: the new session's
  frame must stay cached even though its plan equals the evicted one.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.storagelevel import StorageLevel

from landsat_tair_data_pipeline_spark.sources.tables import TABLES
from oracle_check import compare


def _sf_without_probes(src: str, dst) -> str:
    from landsat_tair_data_pipeline_spark.operators.similarity import _ADC_NQ

    for t in TABLES:
        path = f"{src}/{t}.parquet"
        if t == "embeddings":
            tbl = pq.read_table(path)
            keep = [v >= _ADC_NQ for v in tbl.column("vec_id").to_pylist()]
            pq.write_table(tbl.filter(keep), dst / f"{t}.parquet")
        else:
            os.symlink(path, dst / f"{t}.parquet")
    return str(dst)


def test_pq_keys_without_probe_vectors_match_oracle(spark, sf_dir, tmp_path):
    from landsat_tair_data_pipeline_spark.operators.similarity import (
        _compose_pq_eval_sql,
        _compose_pq_recall_sql,
        sim_eval_pq_mrr_ndcg,
        sim_pq_recall,
    )

    sf = _sf_without_probes(sf_dir, tmp_path)
    compare(spark, sf, sim_pq_recall, _compose_pq_recall_sql())
    compare(spark, sf, sim_eval_pq_mrr_ndcg, _compose_pq_eval_sql())


def test_feature_memo_survives_session_switch(spark):
    from landsat_tair_data_pipeline_spark.operators.domain import features_with_gt

    features_with_gt(spark)
    other = spark.newSession()
    second = features_with_gt(other)
    assert second.storageLevel != StorageLevel.NONE
