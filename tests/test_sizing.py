"""The size policy (zoom_spark/operators/sizing.py): both branches of
every gate, and the k-truss packing contract.

At fixture scale every gate takes its fast branch (broadcast hint,
driver-local numpy), so the tier-wide oracle test never sees the
distributed fallbacks that large inputs take. Here both budgets are
forced to -1, which sends every gate to its fallback, and each gated
query must still match its DuckDB oracle.
"""

from __future__ import annotations

import pytest

from oracle_harness import compare_query

import __spark_entry__ as entry_mod
import zoom_spark.operators.sizing as sizing
import zoom_spark.queries.similarity_queries as sq
import zoom_spark.similarity.kmeans as km
from tests.conftest import SF_DIR

# Every registry query that calls fits_broadcast / fits_driver /
# broadcast_if while it is built at sf0.001 (recorded with wrapped
# predicates over one full registry build, memos cleared per query).
GATED = (
    "adamic_adar_link_prediction",
    "adjusted_rand_index_cells",
    "als_one_sweep_rmse",
    "bcubed_cluster_eval",
    "canonical_doc_ids",
    "canonical_ids_chained",
    "community_labels_copurchase",
    "dbscan_embedding_cells",
    "degree_assortativity",
    "dunn_index_int_cells",
    "er_clusters_from_linkage",
    "gearys_c_copurchase",
    "hard_negative_pairs_ann",
    "harmonic_centrality_parts",
    "hits_supplier_part",
    "k_truss_copurchase",
    "katz_centrality_parts",
    "kmeans_corpus_cells",
    "knn_ivf",
    "knn_ivfpq",
    "knn_pq_adc",
    "logreg_purchase_model",
    "louvain_moves_copurchase",
    "luby_maximal_independent_set",
    "morans_i_copurchase",
    "semdedup_corpus",
    "suffix_array_corpus",
    "tfidf_cosine_pairs",
    "vmeasure_nmi_cells",
)


@pytest.mark.parametrize("name", GATED)
def test_gated_query_matches_oracle_on_fallback(spark, duck, monkeypatch, name):
    monkeypatch.setattr(sizing, "BROADCAST_MAX_ROWS", -1)
    monkeypatch.setattr(sizing, "DRIVER_MAX_CELLS", -1)
    # a memo hit would return a fit without reaching the trainer's gate
    monkeypatch.setattr(km, "_LLOYD_FIT_CACHE", {})
    monkeypatch.setattr(sq, "_PQ_TRAIN_CACHE", {})
    fn = entry_mod.queries()[name]
    res = compare_query(
        spark, duck, name, fn, entry_mod.oracle_sql().get(name), SF_DIR
    )
    assert res["ok"], res


def test_fits_driver_bounds_cells_not_rows():
    cells = sizing.DRIVER_MAX_CELLS
    assert sizing.fits_driver(cells // 64, 64)
    assert not sizing.fits_driver(cells // 64, 65)
    assert sizing.fits_broadcast(sizing.BROADCAST_MAX_ROWS)
    assert not sizing.fits_broadcast(sizing.BROADCAST_MAX_ROWS + 1)


def test_k_truss_compaction_matches_referee(spark, monkeypatch):
    """At sf0.001 k_truss_copurchase peels nothing, so its loop never
    runs. On a random graph that does peel, the forced-fallback loop
    (shuffle joins and a giant-cascade compaction every round) must
    match a set-based peeling referee, as the broadcast loop does."""
    import random

    from zoom_spark.operators.graph import k_truss

    rng = random.Random(7)
    edges = {
        (a, b)
        for a in range(30)
        for b in range(a + 1, 30)
        if rng.random() < 0.3
    }
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    while True:
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        support = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        keep = {e for e in edges if support[e] >= 2}
        if keep == edges:
            break
        edges = keep

    def got():
        rows = k_truss(df, k=4).collect()
        return {(r["u"], r["v"]): r["support"] for r in rows}

    assert got() == support
    monkeypatch.setattr(sizing, "BROADCAST_MAX_ROWS", -1)
    assert got() == support


@pytest.mark.parametrize("bad", [2**31, -1])
def test_k_truss_rejects_ids_outside_packing_contract(spark, bad):
    from zoom_spark.operators.graph import k_truss

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, bad)], "u long, v long"
    )
    with pytest.raises(ValueError, match=str(bad)):
        k_truss(edges, k=3)
