"""Oracle parity for the approximate operator family: every distinct
function behind the registered approximate names — the md5-family gate
plans, the engine-native family's verdict rows and the in-plan audits —
checked against its DuckDB oracle. Each alias (``q_dedup_minhash`` …)
shares its function with the ``_oracled`` name it points at, so one
case covers both names."""

from __future__ import annotations

import pytest

from pyspark_excel_datasource_spark.catalog import SMOKE_SF_DIR as SF

NAMES = (
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_sim_ann_lsh",
    "q_sim_ann_ivf",
    "q_sim_ann_pq",
    "q_dedup_embed_lsh",
    "q_dedup_embed_lsh_oracled",
    "q_dedup_incremental_lsh",
    "q_dedup_incremental_lsh_oracled",
    "q_dedup_minhash_native_audit",
    "q_sim_ann_pq_native_audit",
    "q_approx_audit",
    "q_sim_ann_recall",
)


@pytest.mark.parametrize("name", NAMES)
def test_approx_oracle_parity(spark, name):
    from pyspark_excel_datasource_spark.plans.registry import (
        ORACLES,
        load_all_queries,
    )
    from pyspark_excel_datasource_spark.testing import compare_query

    rep = compare_query(load_all_queries()[name](spark, SF), ORACLES[name], SF)
    assert rep["ok"] and not rep["problems"], rep["problems"]
