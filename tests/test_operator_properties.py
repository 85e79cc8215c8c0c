"""Property-based tests (hypothesis) for the temporal operators: asof_join
against a brute-force per-key reference model, and scd2_apply invariants
(open-row uniqueness + idempotence) over randomized dimension states.

Examples are kept small and few — each example is a real Spark job — but
the generated shapes (duplicate timestamps, keys on one side only, empty
sides) are exactly the edges a fixed fixture misses."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_key = st.integers(min_value=0, max_value=3)
_ts = st.integers(min_value=0, max_value=20)

_left_rows = st.lists(st.tuples(_key, _ts), min_size=1, max_size=8)
_right_rows = st.lists(st.tuples(_key, _ts, st.integers(0, 99)), min_size=0, max_size=8)


def _epoch(n: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=n)


@settings(max_examples=8, deadline=None)
@given(left=_left_rows, right=_right_rows)
def test_asof_backward_matches_reference_model(spark, left, right):
    from sql_data_warehouse_samples_spark.operators.asof import asof_join

    # unique (key, ts) on the right: the documented determinism contract
    right = list({(k, t): v for k, t, v in right}.items())
    right = [(k, t, v) for (k, t), v in right]
    ldf = spark.createDataFrame(
        [(k, _epoch(t), i) for i, (k, t) in enumerate(left)],
        "k: long, lts: timestamp, row_id: long",
    )
    rdf = spark.createDataFrame(
        [(k, _epoch(t), v) for k, t, v in right], "k: long, rts: timestamp, val: long"
    ) if right else spark.createDataFrame([], "k: long, rts: timestamp, val: long")

    got = {
        r["row_id"]: r["val"]
        for r in asof_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts").collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, v) for rk, rt, v in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


_attr = st.integers(min_value=0, max_value=2)
_dim_keys = st.lists(_key, min_size=0, max_size=4, unique=True)
_snap = st.dictionaries(_key, _attr, max_size=4)


@settings(max_examples=8, deadline=None)
@given(dim_keys=_dim_keys, snap=_snap, attrs=st.data())
def test_scd2_apply_open_row_uniqueness_and_idempotence(spark, dim_keys, snap, attrs):
    from sql_data_warehouse_samples_spark.operators.scd import scd2_apply

    dim_rows = [
        (k, attrs.draw(_attr, label=f"attr_{k}"), _epoch(0), None, True)
        for k in dim_keys
    ]
    dim = spark.createDataFrame(
        dim_rows,
        "k: long, a: long, valid_from: timestamp, valid_to: timestamp, is_current: boolean",
    ) if dim_rows else spark.createDataFrame(
        [], "k: long, a: long, valid_from: timestamp, valid_to: timestamp, is_current: boolean"
    )
    src = spark.createDataFrame(
        list(snap.items()), "k: long, a: long"
    ) if snap else spark.createDataFrame([], "k: long, a: long")

    out = scd2_apply(dim, src, "k", as_of="2024-06-01 00:00:00", close_missing=True)
    rows = out.collect()

    # every key in the snapshot has EXACTLY one open row carrying its value;
    # keys absent from the snapshot have none (close_missing)
    open_rows = {}
    for r in rows:
        if r["is_current"]:
            assert r["valid_to"] is None
            assert r["k"] not in open_rows
            open_rows[r["k"]] = r["a"]
    assert open_rows == snap
    # closed rows are never in the future of the as-of instant
    for r in rows:
        if not r["is_current"]:
            assert r["valid_to"] is not None

    # idempotence: re-applying the SAME snapshot is a no-op
    again = scd2_apply(
        out, src, "k", as_of="2024-07-01 00:00:00", close_missing=True
    ).collect()
    norm = lambda rs: sorted(  # noqa: E731
        (r["k"], r["a"], r["valid_from"], r["valid_to"], r["is_current"]) for r in rs
    )
    assert norm(again) == norm(rows)


# ---------------------------------------------------------------------------
# shard assignment (operators/shards.py): total, stable, in-range
# ---------------------------------------------------------------------------

_ids = st.lists(st.integers(min_value=-(10**9), max_value=10**9),
                min_size=1, max_size=30, unique=True)


@settings(max_examples=6, deadline=None)
@given(ids=_ids, n=st.integers(min_value=1, max_value=9),
       seed=st.sampled_from(["", "ep0", "ep1"]))
def test_shard_assign_total_stable_in_range(spark, ids, n, seed):
    """Every key gets exactly one shard in [0, n); the assignment is a pure
    function of (key, seed, n) — identical under repartitioning."""
    from sql_data_warehouse_samples_spark.operators.shards import shard_assign

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    a = {r.id: r.s for r in df.select(
        "id", shard_assign(F.col("id"), n, seed).alias("s")).collect()}
    assert set(a) == set(ids)
    assert all(0 <= s < n for s in a.values())
    b = {r.id: r.s for r in df.repartition(5).select(
        "id", shard_assign(F.col("id"), n, seed).alias("s")).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# canonical_by_score (operators/graph.py): exactly one winner per component
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_canonical_by_score_exactly_one_winner(spark, data):
    ids = data.draw(st.lists(st.integers(0, 50), min_size=1, max_size=15,
                             unique=True))
    comp = {i: data.draw(st.sampled_from(ids)) for i in ids}
    score = {i: data.draw(st.sampled_from([0.0, 0.25, 0.5, 0.5, 1.0]))
             for i in ids}

    from sql_data_warehouse_samples_spark.operators.graph import canonical_by_score

    clusters = spark.createDataFrame(
        [(i, comp[i]) for i in ids], "id long, component long")
    scores = spark.createDataFrame(
        [(i, score[i]) for i in ids], "id long, score double")
    rows = canonical_by_score(clusters, scores).collect()
    assert len(rows) == len(ids)
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for c, members in by_comp.items():
        winners = [r.id for r in members if r.is_canonical]
        assert len(winners) == 1, (c, members)
        # reference model: max score, tiebreak min id
        best = sorted(members, key=lambda r: (-r.score, r.id))[0]
        assert winners[0] == best.id


# ---------------------------------------------------------------------------
# BPE trainer (operators/bpe.py): distributed == textbook, on random corpora
# ---------------------------------------------------------------------------

_words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=5),
    min_size=1, max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(wordlists=st.lists(_words, min_size=1, max_size=4),
       n_merges=st.integers(min_value=1, max_value=6))
def test_bpe_property_matches_reference(spark, wordlists, n_merges):
    """For ANY corpus, the distributed trainer's merge sequence equals the
    textbook single-machine algorithm on the collected word dict —
    including tie-heavy degenerate corpora hypothesis loves to build."""
    from collections import Counter

    from sql_data_warehouse_samples_spark.operators import bpe as B
    from tests.test_operators import _reference_bpe

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(wordlists)],
        "doc_id long, text string",
    )
    wc = Counter(w for ws in wordlists for w in ws)
    expected = _reference_bpe(dict(wc), n_merges)
    got, _ = B.bpe_train(docs, n_merges)
    assert got == expected


# ---------------------------------------------------------------------------
# heavy hitters (operators/text.py): two-pass sketch == full aggregate
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(tokens_=st.lists(st.sampled_from("aa bb cc dd ee ff".split()),
                        min_size=1, max_size=60),
       share=st.sampled_from([0.05, 0.2, 0.5]))
def test_heavy_hitters_property_exact(spark, tokens_, share):
    import math
    from collections import Counter

    from sql_data_warehouse_samples_spark.operators.text import (
        heavy_hitter_tokens,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(tokens_))], "doc_id long, text string"
    )
    counts = Counter(tokens_)
    thr = math.ceil(share * len(tokens_))
    want = {(t, n) for t, n in counts.items() if n >= thr}
    got = {
        (r.token, r.n_occurrences)
        for r in heavy_hitter_tokens(docs, min_share=share).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# knn_join (operators/similarity.py): exact block mode vs numpy reference
# ---------------------------------------------------------------------------

_vec = st.lists(st.integers(min_value=-5, max_value=5), min_size=3, max_size=3)


@settings(max_examples=5, deadline=None)
@given(vecs=st.lists(_vec, min_size=2, max_size=12),
       lb=st.integers(min_value=1, max_value=3),
       rb=st.integers(min_value=1, max_value=3),
       k=st.integers(min_value=1, max_value=3))
def test_knn_join_property_matches_numpy(spark, vecs, lb, rb, k):
    """Any vector set, any grid shape: the block-cogroup join equals a
    direct numpy brute force with the same rounding and (sim desc, id asc)
    tiebreak.  Zero vectors are excluded from both sides (non-finite
    cosine is masked by the kernel, NULL by the oracle convention)."""
    import numpy as np

    from sql_data_warehouse_samples_spark.operators.similarity import knn_join

    vecs = [v for v in vecs if any(x != 0 for x in v)]
    if len(vecs) < 2:
        return
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    got = {
        (r.query_id, r.nbr_rank): (r.neighbor_id, r.cosine_sim)
        for r in knn_join(df, df, k=k, left_blocks=lb, right_blocks=rb).collect()
    }
    X = np.array(vecs, dtype=np.float64)
    n = np.linalg.norm(X, axis=1)
    sims = np.round((X @ X.T) / np.outer(n, n), 6)
    want = {}
    for i in range(len(vecs)):
        cands = sorted(
            ((-sims[i, j], j) for j in range(len(vecs)) if j != i)
        )[:k]
        for rank, (s, j) in enumerate(cands, 1):
            want[(i, rank)] = (j, -s)
    assert got == want
