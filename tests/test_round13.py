"""Round-13 regressions: repeated-expensive-subtree elimination.

Catalyst does not CSE across union branches or self-join sides, so a
plan that references an Arrow-kernel or tokenize subtree N times pays
that work N times (r13 census: the LSH banding carried 16 ArrowEvalPython
nodes, the incremental dedup index 22 parquet scans).  The fix is an
eager localCheckpoint of the narrow intermediate; these tests pin the
resulting plan SHAPE — the final executed plan must read materialized
checkpoint blocks, not re-derive the expensive pass per reference — so
a refactor that silently re-inlines the subtree fails here instead of
resurfacing as an N-times-slower query at scale.
"""

from __future__ import annotations

import pytest

from copperhead_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow")


def _plan(spark, name: str) -> str:
    df = all_queries()[name].builder(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


# (query, max python-eval nodes allowed, max parquet scans allowed)
# The checkpointed queries read LogicalRDD leaves in their final plan:
# every Python kernel / corpus scan they need runs exactly once, in the
# checkpoint job, so the FINAL plan carries none (naive Bayes keeps its
# six cheap pruned lang-column scans by design).
_PINS = [
    ("dedup_minhash_lsh_pairs", 0, 0),
    ("dedup_minhash_jaccard_est", 0, 0),
    ("dedup_lsh_recall", 0, 0),
    ("dedup_incremental_index", 0, 0),
    ("dedup_ngram_jaccard_pairs", 0, 0),
    ("dedup_ngram_containment_pairs", 0, 0),
    ("text_tfidf_blocked_pairs", 0, 0),
    ("text_contamination_screen", 0, 0),
    ("text_pmi_collocations", 0, 0),
    ("ml_naive_bayes_classify", 0, 6),
    ("pipeline_pretrain_corpus_e2e", 0, 0),
    # session-4 additions: the 2x self-join / stats-pass sites whose
    # duplicated derivation is expensive per row (tokenize folds,
    # rolling-hash gram selection, pixel decode+threshold fold)
    ("text_bm25_topk", 0, 0),
    ("dedup_simhash_pairs", 0, 0),
    ("dedup_winnowing_pairs", 0, 0),
    ("mm_phash_dedup", 0, 0),
]


@pytest.mark.parametrize("name,max_py,max_scans", _PINS)
def test_no_reevaluated_expensive_subtrees(spark, name, max_py, max_scans):
    plan = _plan(spark, name)
    n_py = sum(plan.count(n) for n in _PY_NODES)
    n_scans = plan.count("Scan parquet")
    assert n_py <= max_py, (
        f"{name}: {n_py} Python-eval nodes in the final plan (max {max_py}) — "
        "an expensive kernel subtree is being re-evaluated per reference again"
    )
    assert n_scans <= max_scans, (
        f"{name}: {n_scans} parquet scans in the final plan (max {max_scans}) — "
        "a materialized-once corpus pass is being re-derived per reference"
    )


def test_stage1_arrow_kernel_bit_exact(spark):
    """The Arrow/NumPy stage-1 front half must be BIT-exact whatever the
    Arrow batch boundaries (same rows, same doubles, same schema) -- it
    feeds oracle-hashed e2e queries, and a list-offset slip at a batch
    edge would move muons/jets between events.  Default batching is
    compared with 97-row batches (prime, so edges land mid-partition).
    Equality with the independent DuckDB oracle is
    test_pipeline.py::test_stage1_arrays_identical_to_stage1."""
    import numpy as np

    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.pipeline import stage1_arrays

    ev = events_fixture_distributed(spark, 20000)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    a_df = stage1_arrays(ev)
    a = a_df.toPandas().sort_values("event").reset_index(drop=True)
    old = spark.conf.get(key)
    spark.conf.set(key, "97")
    try:
        b_df = stage1_arrays(ev)
        b = b_df.toPandas().sort_values("event").reset_index(drop=True)
    finally:
        spark.conf.set(key, old)
    assert [(f.name, f.dataType) for f in a_df.schema] == [
        (f.name, f.dataType) for f in b_df.schema]
    assert len(a) == len(b) > 100
    for col in a.columns:
        x, y = a[col].to_numpy(), b[col].to_numpy()
        if x.dtype.kind == "f":
            same = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            same = x == y
        assert np.asarray(same).all(), col


def test_stage1_arrow_kernel_null_jets(spark):
    """jet1_*/jet2_* must be NULL (not NaN, not 0) when njets < 1/2 —
    Spark treats NaN > x as TRUE, so a NaN leak would flip the vbf
    channel cascade.  The F1 fixture's survivors always carry >= 2 clean
    jets, so this uses a hand-built 0/1/2-jet fixture."""
    from copperhead_spark.fixtures import EVENT_SCHEMA
    from copperhead_spark.pipeline import stage1_arrays

    mu = [(50.0, 0.5, 0.1, 1, 0.1, True, -1),
          (40.0, -0.5, 2.0, -1, 0.1, True, -1)]
    jet = (120.0, 3.0, -2.0, 10.0, 2, 0.5)
    jet2 = (80.0, -3.0, 1.0, 8.0, 6, 0.2)
    rows = [
        (1, 100, 1.0, True, True, 30.0, 20.0, mu, [], []),
        (1, 101, 1.0, True, True, 30.0, 20.0, mu, [jet], []),
        (1, 102, 1.0, True, True, 30.0, 20.0, mu, [jet, jet2], []),
    ]
    ev = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    flat = (stage1_arrays(ev).toPandas()
            .sort_values("event").reset_index(drop=True))
    assert list(flat.njets) == [0, 1, 2]
    assert flat.loc[0, ["jet1_pt", "jet2_pt", "jet1_qgl"]].isna().all()
    assert flat.loc[1, "jet1_pt"] == 120.0 and flat.loc[
        1, ["jet2_pt", "jet2_mass"]].isna().all()
    assert flat.loc[2, "jet1_pt"] == 120.0 and flat.loc[2, "jet2_pt"] == 80.0


def test_lsh_pairs_values_unchanged(spark):
    """The explode-banding reshape must emit exactly the union form's
    rows (order-insensitive: the downstream groupBy aggregates them)."""
    from pyspark.sql import functions as F

    df = all_queries()["dedup_minhash_lsh_pairs"].builder(spark, SF)
    got = {(r.doc1, r.doc2, r.n_shared_bands) for r in df.collect()}
    # reference recomputation straight from the signature columns
    sig = all_queries()["dedup_minhash_signatures"].builder(spark, SF)
    rows = sig.collect()
    buckets: dict[tuple, list] = {}
    for r in rows:
        for b in range(4):
            key = (b, f"{r[f'mh{2 * b}']}_{r[f'mh{2 * b + 1}']}")
            buckets.setdefault(key, []).append(r.doc_id)
    want: dict[tuple, int] = {}
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want[(ids[i], ids[j])] = want.get((ids[i], ids[j]), 0) + 1
    assert got == {(d1, d2, n) for (d1, d2), n in want.items()}
