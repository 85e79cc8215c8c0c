"""Round-12 optimization regressions: every change here altered an
operator's INTERNALS (job structure, compute strategy) with a
value-identity contract — these tests pin that contract.

Covered:
* ``semantic_dedup(impl="gemm")`` — the per-cluster gemm kernel vs the
  parity-locked fold path (including unusable-vector handling);
* ``bm25_topk_batch(ordered=False)`` / ``_rank_per_query`` — same rows
  and ranks with and without the presentation sort;
* ``Bm25Index.topk_batch`` driver-side vocabulary (local query table)
  vs the distributed derivation (non-local);
* ``mine_hard_negatives_batch`` single-probe embedding fetch — the
  guard still drops near-positive candidates exactly;
* ``workload._util.table_rows`` (footer row count == df.count()) and
  ``_src_row_groups`` (the scan-spread gate reads footers, not plans).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# semantic_dedup gemm vs fold
# ---------------------------------------------------------------------------


def test_semantic_dedup_gemm_matches_fold_on_corpus(spark):
    from sql_data_warehouse_samples_spark.operators.dedup import semantic_dedup
    from sql_data_warehouse_samples_spark.operators.similarity import (
        seed_centroids,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = seed_centroids(e, nlist=16)
    gemm = semantic_dedup(e, cents, threshold=0.35, impl="gemm")
    fold = semantic_dedup(e, cents, threshold=0.35, impl="fold")
    assert _rows(gemm) == _rows(fold)


def test_semantic_dedup_gemm_handles_unusable_vectors(spark):
    """Null / ragged / non-finite vectors neither prune nor get pruned —
    the fold path's NULL-sim semantics, preserved by _clean_matrix."""
    from sql_data_warehouse_samples_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),          # dup of 0 -> pruned
        (2, None),                 # null vector: kept
        (3, [1.0]),                # ragged: kept
        (4, [float("nan"), 1.0]),  # non-finite: kept
        (5, [0.0, 1.0]),           # orthogonal: kept
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = [(0, [1.0, 0.0])]
    for impl in ("gemm", "fold"):
        got = semantic_dedup(df, cents, threshold=0.9, impl=impl)
        kept = {r["vec_id"] for r in got.collect()}
        assert 1 not in kept, impl
        assert {0, 5} <= kept, impl
        # unusable rows survive under both impls (never pruned)
        assert {2, 3, 4} <= kept, impl


def test_semantic_dedup_rejects_unknown_impl(spark):
    from sql_data_warehouse_samples_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="impl"):
        semantic_dedup(df, [(0, [1.0, 0.0])], impl="nope")


# ---------------------------------------------------------------------------
# bm25 ordered=False and serving-index local vocabulary
# ---------------------------------------------------------------------------


def test_bm25_batch_unordered_same_rows_and_ranks(spark):
    from sql_data_warehouse_samples_spark.operators.bm25 import bm25_topk_batch

    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = spark.createDataFrame(
        [(0, "spark hash join window"), (1, "quality filter dedup")],
        "query_id: long, query: string",
    )
    ordered = bm25_topk_batch(d, q, k=5)
    unordered = bm25_topk_batch(d, q, k=5, ordered=False)
    assert _rows(ordered) == _rows(unordered)
    # the ordered form also guarantees presentation order
    got = [(r["query_id"], r["lex_rank"]) for r in ordered.collect()]
    assert got == sorted(got)


def test_bm25_index_local_vocab_matches_distributed(spark, tmp_path):
    """topk_batch derives the vocabulary driver-side for a LOCAL query
    table — identical output to the distributed derivation over the same
    queries written to parquet (non-local)."""
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators._frames import small_df

    d = spark.read.parquet(f"{SF}/documents.parquet")
    idx = Bm25Index.build(d, str(tmp_path / "idx"), n_buckets=8)
    qrows = [(0, "spark hash join window"), (1, "  quality   filter ")]
    schema = "query_id: long, query: string"
    q_local = small_df(spark, qrows, schema)
    assert q_local.isLocal()
    qp = str(tmp_path / "queries.parquet")
    q_local.write.parquet(qp)
    q_dist = spark.read.parquet(qp)
    assert not q_dist.isLocal()
    assert _rows(idx.topk_batch(q_local, k=5)) == _rows(
        idx.topk_batch(q_dist, k=5)
    )


# ---------------------------------------------------------------------------
# hard-negative mining: single embeddings probe, guard intact
# ---------------------------------------------------------------------------


def test_mining_cosine_guard_still_drops_near_positives(spark):
    """The one-probe embedding fetch serves both the positive vectors and
    the candidate vectors: a candidate near-identical to its query's
    positive is still dropped, everything else keeps its rank order."""
    from sql_data_warehouse_samples_spark.operators.retrieval import (
        mine_hard_negatives_batch,
    )

    d = spark.createDataFrame(
        [
            (0, "alpha beta"),            # labeled positive
            (1, "alpha beta gamma"),      # unlabeled dup of the positive
            (2, "alpha delta"),           # honest hard negative
        ],
        "doc_id: long, text: string",
    )
    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id: long, embedding: array<double>",
    )
    q = spark.createDataFrame(
        [(0, "alpha beta")], "query_id: long, query: string"
    )
    pos = spark.createDataFrame([(0, 0)], "query_id: long, doc_id: long")
    guarded = {
        r["doc_id"]
        for r in mine_hard_negatives_batch(
            d, q, pos, embeddings=e, k=5, k_raw=10, sim_ceiling=0.95
        ).collect()
    }
    unguarded = {
        r["doc_id"]
        for r in mine_hard_negatives_batch(
            d, q, pos, embeddings=None, k=5, k_raw=10
        ).collect()
    }
    assert 0 not in guarded and 0 not in unguarded  # positive anti-joined
    assert guarded == {2}      # dup-of-positive dropped by the guard
    assert unguarded == {1, 2}  # without embeddings it survives


# ---------------------------------------------------------------------------
# footer-metadata helpers behind d12's nlist and the scan-spread gate
# ---------------------------------------------------------------------------


def test_table_rows_matches_count(spark):
    from sql_data_warehouse_samples_spark.workload._util import table_rows

    for t in ("documents", "embeddings", "lineitem"):
        df = spark.read.parquet(f"{SF}/{t}.parquet")
        assert table_rows(SF, t) == df.count(), t


def test_src_row_groups_counts_footers(spark, tmp_path):
    from sql_data_warehouse_samples_spark.workload._util import (
        _src_row_groups,
    )

    p = str(tmp_path / "rg.parquet")
    spark.range(0, 1000).repartition(4).write.parquet(p)
    # 4 files -> >= 4 row groups, counted without any Spark job
    assert _src_row_groups(p) >= 4
    single = f"{SF}/documents.parquet"
    assert _src_row_groups(single) >= 1
