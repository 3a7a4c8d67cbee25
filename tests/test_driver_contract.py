"""The driver contract of ``__spark_entry__``: every query has a DuckDB
oracle and every oracle a query. Spark-free: building the query map and the
oracle SQL starts no session."""

from __future__ import annotations

import pytest

import __spark_entry__ as e

# The training-data queries (dedup, text, ANN, embeddings, events,
# multimodal blobs) that no CPG stage used; they left the contract with
# their module.
REMOVED = {
    "dedup_exact", "dedup_shingle_pairs", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_pairs", "text_token_stats", "text_quality", "text_lang_id",
    "text_fingerprint", "ann_knn_bruteforce", "ann_knn_lsh",
    "ann_knn_lsh_recall", "emb_label_stats", "events_daily_rollup",
    "mm_blob_features",
}


@pytest.fixture(scope="module")
def contract():
    return e.queries(), e.oracle_sql()


def test_every_query_has_an_oracle(contract):
    qs, oracles = contract
    assert set(qs) == set(oracles)
    assert all(callable(fn) for fn in qs.values())


def test_oracles_are_sql(contract):
    _, oracles = contract
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.lstrip().upper().startswith("SELECT"), name


def test_removed_queries_are_gone(contract):
    qs, oracles = contract
    assert not REMOVED & (set(qs) | set(oracles))
    assert all(name.startswith("cpg_") for name in qs)
