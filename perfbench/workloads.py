"""The benchmark's workloads: fixed, ordered operation lists.

Every workload is a closed loop with one client: one operation at a
time from one process.  A pass runs the whole list once; a run
repeats passes until ``--seconds`` have elapsed, so the amount of work
per pass never depends on speed.
"""

from __future__ import annotations

# iterative_heavy: one registry query per layer that iterates or
# trains — Lloyd training with its session memo (kmeans_corpus_cells
# fills it, knn_ivf hits it), graph fixpoint rounds and a prefix scan
# (textrank_keywords), the MinHash signature fold, connected
# components, ALS, and a mapInPandas codec.
ITERATIVE_HEAVY = [
    "kmeans_corpus_cells",
    "knn_ivf",
    "textrank_keywords",
    "minhash_dedup_docs",
    "canonical_doc_ids",
    "als_one_sweep_rmse",
    "multimodal_decode_wav_ppm",
]

# Row counts of the queries that have no DuckDB oracle.  The generated
# tables are a re-layout of the same sf0.1 rows, so the count does not
# depend on the seed.
EXPECTED_ROWS = {
    "als_one_sweep_rmse": 3,
}

# connector_nightly: every app.Connector stage, in the order
# zoom_spark.app.main runs them, for NIGHTS consecutive nights into a
# fresh sink directory per pass.  The pass starts from a cold JVM, as
# the nightly job does; three nights keep the cold first night from
# setting most of the pass's time.
CONNECTOR_STAGES = [
    "load_users",
    "load_groups",
    "load_group_members",
    "create_student_accounts",
    "load_meetings",
    "load_participants",
    "load_meeting_settings",
]
NIGHTS = 3

WORKLOADS = ("iterative_heavy", "connector_nightly")
