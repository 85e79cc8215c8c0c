"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Driver-mandated LLM-pipeline extension (BASELINE.json north_star).  The
embedding column is ``array<float>`` (the reference's closest precedent for
opaque payload columns is VARBINARY, dimension.employee.sql:8).

Scale design:
* Brute force is the exactness baseline: queries × corpus crossJoin.  The
  query side is small → broadcast it; the corpus side streams, so the plan
  is map-only over the corpus (no shuffle of the 100 TB side) followed by a
  per-query top-k aggregation.
* ANN path: random-hyperplane LSH assigns each vector to a bucket; neighbor
  search probes only matching buckets (equi-join on bucket id).  Probing
  multiple "nearby" buckets (multi-probe) trades recall vs cost.
* All dot products are pure SQL higher-order functions (zip_with/aggregate)
  — JVM codegen, no Python round-trip.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._frames import small_df

try:  # the Arrow fast paths need the full numpy/pandas/pyarrow stack;
    import numpy as _np  # noqa: F401 - probe only
    import pandas as _pd  # noqa: F401
    import pyarrow as _pa  # noqa: F401

    _HAS_ARROW = True
except ImportError:  # pure-JVM cluster — impl="arrow" falls back to the fold
    _HAS_ARROW = False


def _infer_dim(*val_lists) -> int:
    """Embedding dimension for a batch/tile: the MOST COMMON non-null
    length across all the given vector lists (ties break to the larger
    length).  Trusting the first non-null row would let a single ragged
    vector poison the whole tile — ``_clean_matrix`` would then mask out
    every VALID row and the result would depend on arbitrary row order
    inside the cell."""
    counts: dict[int, int] = {}
    for vals in val_lists:
        for v in vals:
            if v is not None:
                n = len(v)
                counts[n] = counts.get(n, 0) + 1
    if not counts:
        return 0
    return max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]


def _clean_matrix(vals, dim):
    """(X, ok) for a batch of embedding lists: X is the (n_ok, dim)
    float64 matrix of the USABLE rows, ok the per-row validity mask.
    A row is usable iff non-null, exactly ``dim`` long, and all-finite —
    anything else (null vector, ragged length, null/NaN element) is
    masked out instead of collapsing np.array to object dtype or raising
    mid-batch, and the caller emits NULL for it."""
    import numpy as np

    try:  # fast path: the overwhelmingly common all-clean batch
        X = np.array(vals, dtype=np.float64)
        if X.ndim == 2 and X.shape[1] == dim and np.isfinite(X).all():
            return X, np.ones(len(vals), dtype=bool)
    except (TypeError, ValueError):
        pass
    ok = np.zeros(len(vals), dtype=bool)
    rows = []
    for i, v in enumerate(vals):
        if v is None or len(v) != dim:
            continue
        try:
            row = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            continue
        if not np.isfinite(row).all():
            continue
        ok[i] = True
        rows.append(row)
    X = np.vstack(rows) if rows else np.empty((0, dim), dtype=np.float64)
    return X, ok


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ONLY if the scan is under-partitioned (e.g. a single local
    parquet file → 1 partition would serialize all the vector math).  At scale
    the corpus arrives in thousands of splits and this is a no-op — an
    unconditional repartition would be a full shuffle of the big side.

    Cost note (r12): the partition-count fallback materializes the plan's
    RDD (``df.rdd``), ~0.1-0.3 s of driver time per call.  Two cheap
    driver-side short-circuits avoid it on the common paths: a local
    relation (literal query tables) never needs spreading, and a frame the
    table layer already hash-spread (``workload._util.tbl``) carries a
    Repartition node in its logical plan — re-checking it would be the
    exact double cost the tbl() footer gate was built to avoid."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.isLocal():
            return df
        if "Repartition" in df._jdf.queryExecution().logical().toString():
            return df
    except Exception:  # noqa: BLE001 - fall back to the honest RDD probe
        pass
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as double, sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, nbr_rank).  Self-matches are
    excluded.  The query side is broadcast; ranking uses a deterministic
    tiebreaker on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    from pyspark.sql import Window

    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    # spread the corpus by compute, not file bytes (a single-file corpus
    # would otherwise score every (query, doc) pair in one task)
    c = _spread(c)
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", sim)
        .withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nbr_rank")
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance Σ (aᵢ-bᵢ)², double math, sequential fold."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cent_literal(cent_list: list[tuple[int, list[float]]]) -> Column:
    """array<struct<cid,vec>> literal from [(cid, vec)], cid-sorted.

    Assembled as ONE SQL string handed to the JVM in a single call: building
    it from nested ``F.lit``/``F.struct`` costs ~nlist×dim py4j round trips
    (≈1.5 s of driver time at nlist=16, dim=64 — measured), while the parsed
    form constant-folds to the identical Literal during optimization."""
    structs = ", ".join(
        "named_struct('cid', {}L, 'vec', array({}))".format(
            int(cid), ", ".join(f"{float(x)!r}D" for x in vec)
        )
        for cid, vec in cent_list
    )
    return F.expr(f"array({structs})")


# Above this many quantizer elements (nlist × dim) the plan-embedded
# centroid literal would dominate parse/optimize time — production-scale
# coarse quantizers (nlist ≈ √n reaches 1e4-1e5 lists at dim 768 ≈ 1e7
# doubles) ride a broadcast exchange instead, with the IDENTICAL fold
# applied to a broadcast-joined column.
CENT_LITERAL_MAX_ELEMS = 50_000


def _argmin_struct(vec: Column, cents: Column, round_to: int) -> Column:
    """Nearest-centroid (cid, d2) struct by a map-only ``aggregate`` fold
    over a cid-sorted ``array<struct<cid,vec>>`` column.  Strict ``<``
    keeps the lowest centroid id on (rounded) distance ties — same
    semantics as ORDER BY (d2, cid) row_number()=1, with zero row
    amplification."""

    def _closer(acc: Column, cent: Column) -> Column:
        d2 = F.round(l2sq(vec, cent["vec"]), round_to)
        better = d2 < acc["d2"]
        return F.struct(
            F.when(better, cent["cid"]).otherwise(acc["cid"]).alias("cid"),
            F.when(better, d2).otherwise(acc["d2"]).alias("d2"),
        )

    init = F.struct(
        F.lit(-1).cast("long").alias("cid"), F.lit(float("inf")).alias("d2")
    )
    return F.aggregate(cents, init, _closer)


def _argmin_fold(vec: Column, cents: Column, round_to: int) -> Column:
    return _argmin_struct(vec, cents, round_to)["cid"]


def _argmin_cid(vec: Column, cent_list: list[tuple[int, list[float]]], round_to: int) -> Column:
    """The fold over a plan-embedded centroid literal — the zero-exchange
    small-quantizer path (see CENT_LITERAL_MAX_ELEMS for the cutoff)."""
    return _argmin_fold(vec, _cent_literal(cent_list), round_to)


def assign_centroids(
    df: DataFrame,
    vec_col: str | Column,
    cent_list: list[tuple[int, list[float]]],
    round_to: int = 6,
    out_col: str = "centroid_id",
    max_literal_elems: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Annotate ``df`` with each row's nearest-centroid id.

    Small quantizers (≤ ``CENT_LITERAL_MAX_ELEMS`` total elements) embed
    the centroids as a plan literal — map-only, zero exchange, constant-
    folded by Catalyst.  Larger ones pack the centroid array into a
    single-row broadcast frame and apply the identical fold to the joined
    column: the data moves over a broadcast exchange instead of living in
    the plan tree, so parse/optimize cost stays flat no matter how large
    nlist×dim grows.  Both paths produce identical assignments (same fold,
    same cid-sorted tie semantics)."""
    cutoff = CENT_LITERAL_MAX_ELEMS if max_literal_elems is None else max_literal_elems
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n_elems = sum(len(v) for _, v in cent_list)
    if impl == "arrow" and not _HAS_ARROW:
        impl = "fold"  # pure-JVM environment — same semantics, slower
    if impl == "arrow":
        # Arrow-batched numpy argmin: one gemm for the full distance
        # matrix per batch — the SQL fold below runs interpreted per
        # row×centroid×dim (no codegen for HOF lambdas; measured ~5×
        # slower at s04/d12 scales).  Identical semantics: distances
        # round to ``round_to`` before a first-minimum argmin over the
        # cid-sorted codebook (ties → lowest cid).  Map-only (no
        # exchange), and the centroids ride the udf closure, so the
        # plan-literal ceiling never applies.  Null / wrong-length /
        # non-finite vectors assign NULL (the fold path's degenerate
        # folds surface the same rows as unusable; here the contract is
        # explicit instead of a crash in np.array).
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import LongType

        mat = np.array(
            [v for _, v in sorted(cent_list)], dtype=np.float64
        )
        cid_arr = np.array([c for c, _ in sorted(cent_list)], dtype=np.int64)
        c2 = (mat * mat).sum(axis=1)[None, :]

        def _assign_fn(col):
            X, ok = _clean_matrix(col.tolist(), mat.shape[1])
            if len(X) == 0:
                return pd.Series([None] * len(ok), dtype="Int64")
            d2 = (X * X).sum(axis=1, keepdims=True) - 2.0 * (X @ mat.T) + c2
            d2 = np.round(np.maximum(d2, 0.0), round_to)
            assigned = cid_arr[np.argmin(d2, axis=1)]
            out = np.full(len(ok), -1, dtype=np.int64)
            out[ok] = assigned
            return pd.Series(out, dtype="Int64").where(pd.Series(ok))

        _assign = pandas_udf(_assign_fn, LongType())
        return df.withColumn(out_col, _assign(vec.cast("array<double>")))
    if impl != "fold":
        raise ValueError(f"unknown assign_centroids impl {impl!r}")
    if n_elems <= cutoff:
        return df.withColumn(out_col, _argmin_cid(vec, cent_list, round_to))
    spark = df.sparkSession
    packed = (
        small_df(
            spark,
            [(int(c), [float(x) for x in v]) for c, v in cent_list],
            "cid: long, vec: array<double>",
        )
        .agg(F.sort_array(F.collect_list(F.struct("cid", "vec"))).alias("__cents"))
    )
    return (
        df.crossJoin(F.broadcast(packed))
        .withColumn(out_col, _argmin_fold(vec, F.col("__cents"), round_to))
        .drop("__cents")
    )


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic seed quantizer: the ``nlist`` lowest-id corpus vectors."""
    rows = (
        corpus.filter(F.col(id_col) < nlist)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("vec"))
        .orderBy("cid")
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["vec"]]) for r in rows]


def _seed_or_lowest_present(
    corpus: DataFrame, id_col: str, vec_col: str, nlist: int
) -> list[tuple[int, list[float]]]:
    """``seed_centroids`` with the arbitrary-id-space fallback (r10
    probe fix, r11: shared by the index builds too): seed_centroids
    takes ids < nlist (semantics the s04-family oracles pin, so they
    stay untouched on dense-from-0 corpora) — but a retrain or REBUILD
    corpus has arbitrary ids: the low ids may have been forgotten, or
    the id space may not start at 0 at all (doc ids from an admission
    pipeline).  Fall back to the nlist lowest ids PRESENT, re-keyed
    0..n-1 — still deterministic.  An empty corpus is a caller error,
    loudly."""
    cents = seed_centroids(corpus, id_col, vec_col, nlist)
    if len(cents) >= nlist:
        return cents
    rows = (
        corpus.select(F.col(id_col).alias("__sid"),
                      F.col(vec_col).alias("__svec"))
        .dropDuplicates(["__sid"])
        .orderBy("__sid")
        .limit(nlist)
        .collect()
    )
    if not rows:
        raise ValueError(
            "centroid seeding: corpus has no vectors to seed from"
        )
    return [
        (i, [float(x) for x in r["__svec"]]) for i, r in enumerate(rows)
    ]


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iters: int = 2,
    round_to: int = 6,
    max_train: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the seed quantizer (FAISS IVF training step).

    Per iteration: (1) map-only argmin assignment via the literal fold —
    no shuffle, no row amplification; (2) element-wise means via
    ``posexplode`` + groupBy(cid, pos) — partial aggregation combines
    map-side, so the shuffle carries ~nlist×dim rows REGARDLESS of corpus
    size.  Centroids stay driver-sized throughout (nlist×dim floats).
    Lists that go empty keep their previous centroid (standard k-means
    empty-cluster handling).

    ``max_train`` bounds the TRAINING SAMPLE, FAISS practice (its IVF
    trainer subsamples to ~max(10k, 50·nlist) points): quantizer quality
    depends on sample density around the cluster structure, not corpus
    size, so training on the full corpus buys nothing but iters extra
    full scans — at 100 TB, the difference between a minutes-long
    driver-side step and re-reading the corpus per Lloyd iteration.  The
    sample is deterministic (lowest-xxhash64 ids — a seeded pseudo-random
    draw, stable across partitioning); callers then assign the FULL
    corpus map-only as before.  Default ``None`` → max(10_000, 50·nlist);
    pass ``0`` to train on the full corpus (the pre-r6 behavior).
    """
    if max_train is None:
        max_train = max(10_000, 50 * nlist)
    cents = _seed_or_lowest_present(corpus, id_col, vec_col, nlist)
    train = corpus.select(id_col, vec_col)
    if max_train:
        # TakeOrderedAndProject: each partition ships only its k best
        # hash-ranked rows; the materialized sample (~max_train × dim
        # doubles, a few MB) is reused across all iters
        train = train.orderBy(
            F.xxhash64(F.col(id_col)), F.col(id_col)
        ).limit(max_train)
        if iters > 1:
            train = train.localCheckpoint(eager=True)
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for _ in range(iters):
        assigned = assign_centroids(
            train, vec_col, cents, round_to, out_col="__kc"
        ).select(F.col("__kc").alias("cid"), F.posexplode(dbl).alias("pos", "val"))
        means = (
            assigned.groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .collect()
        )
        new_cents = dict(cents)
        for r in means:
            new_cents[int(r["cid"])] = [float(p["m"]) for p in r["pm"]]
        cents = sorted(new_cents.items())
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    round_to: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k (inverted-file index, FAISS IVF,Flat shape).

    * Coarse quantizer: ``nlist`` seed centroids (the lowest-id corpus
      vectors — deterministic; a k-means refinement drops in here without
      changing the dataflow).
    * Inverted lists: each corpus vector is assigned to its nearest centroid
      (argmin L2, centroid-id tiebreak) by a single ``aggregate`` fold over
      the centroid set embedded as an array literal — a map-only projection
      with ZERO row amplification and no shuffle before the one equi-join
      keyed by centroid_id.  (A crossJoin×nlist + row_number window does the
      same math but shuffles nlist× the corpus — the job, at 100 TB.)
      Collecting the centroids to the driver is fine by construction: the
      coarse quantizer is always driver-sized (nlist rows).
    * Search: each query probes its ``nprobe`` nearest lists; candidates come
      from an equi-join on centroid_id, so at 100 TB the corpus is scanned
      once and only ~nprobe/nlist of it is compared per query.

    Distances are rounded to ``round_to`` before ranking so the
    list-assignment is reproducible across engines (oracle parity).
    Each corpus vector lives in exactly one list → no duplicate pairs.
    Pass ``train_iters > 0`` (or explicit ``centroids``) for a Lloyd-refined
    quantizer — same dataflow, better-balanced lists.
    """
    from pyspark.sql import Window

    if centroids is None:
        if train_iters > 0:
            centroids = kmeans_centroids(
                corpus, id_col, vec_col, nlist, iters=train_iters, round_to=round_to
            )
        else:
            centroids = seed_centroids(corpus, id_col, vec_col, nlist)

    cents = small_df(
        corpus.sparkSession,
        [(cid, vec) for cid, vec in centroids],
        "centroid_id long, __cent array<double>",
    )

    c = _spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    )
    c_assigned = assign_centroids(c, "__cvec", centroids, round_to).select(
        "neighbor_id", "__cvec", "centroid_id"
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    q_d2 = F.round(l2sq(F.col("__qvec"), F.col("__cent")), round_to)
    w_q = Window.partitionBy("query_id").orderBy("__d2", "centroid_id")
    q_probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d2", q_d2)
        .withColumn("__r", F.row_number().over(w_q))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "__qvec", "centroid_id")
    )

    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        c_assigned.join(F.broadcast(q_probe), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", sim)
        .withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nbr_rank")
    )


def _knn_block_kernel(k: int, round_to: int, exclude_self: bool):
    """cogroup kernel for knn_join: one (left-block, right-block) cell →
    the cell-local top-k per query, via a single float64 gemm.  Local
    top-k is safe: each cell contributes at most k candidates per query
    and the global window re-ranks the union with identical ordering
    (rounded sim desc, neighbor id asc), so global top-k ⊆ union of
    cell top-k."""
    import numpy as np
    import pandas as pd

    def _fn(lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cosine_sim": pd.Series([], dtype="float64"),
            }
        )
        if lpdf.empty or rpdf.empty:
            return empty
        lv = lpdf["__lv"].tolist()
        rv = rpdf["__rv"].tolist()
        dim = _infer_dim(lv, rv)
        if not dim:
            return empty
        X, okx = _clean_matrix(lv, dim)
        Y, oky = _clean_matrix(rv, dim)
        if len(X) == 0 or len(Y) == 0:
            return empty
        qid = lpdf["query_id"].to_numpy()[okx]
        nid = rpdf["neighbor_id"].to_numpy()[oky]
        nx = np.sqrt((X * X).sum(axis=1))
        ny = np.sqrt((Y * Y).sum(axis=1))
        denom = np.outer(nx, ny)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((X @ Y.T) / denom, round_to)
        out_q, out_n, out_s = [], [], []
        for i in range(len(X)):
            row = sims[i]
            mask = np.isfinite(row)
            if exclude_self:
                mask &= nid != qid[i]
            cand = np.flatnonzero(mask)
            if len(cand) == 0:
                continue
            # (sim desc, neighbor_id asc) — lexsort: last key is primary
            order = cand[np.lexsort((nid[cand], -row[cand]))][:k]
            out_q.append(np.full(len(order), qid[i]))
            out_n.append(nid[order])
            out_s.append(row[order])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q).astype("int64"),
                "neighbor_id": np.concatenate(out_n).astype("int64"),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return _fn


def _pair_block_kernel(threshold: float, round_to: int):
    """cogroup kernel for ``all_pairs_similarity``: one upper-triangle
    (block_a, block_b) cell → every pair with rounded cosine ≥ threshold,
    via a single float64 gemm.  Diagonal cells (block_a == block_b) see the
    same rows on both sides, so they keep only the strict upper triangle by
    id; off-diagonal cells hold disjoint id sets (hash-blocked), each
    unordered pair appears in exactly one cell, and the output is ordered
    (min_id, max_id)."""
    import numpy as np
    import pandas as pd

    def _fn(lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine_sim": pd.Series([], dtype="float64"),
            }
        )
        if lpdf.empty or rpdf.empty:
            return empty
        diagonal = bool(lpdf["__ca"].iat[0] == lpdf["__cb"].iat[0])
        lv = lpdf["__va"].tolist()
        rv = rpdf["__vb"].tolist()
        dim = _infer_dim(lv, rv)
        if not dim:
            return empty
        X, okx = _clean_matrix(lv, dim)
        Y, oky = _clean_matrix(rv, dim)
        if len(X) == 0 or len(Y) == 0:
            return empty
        ida = lpdf["__ida"].to_numpy()[okx]
        idb = rpdf["__idb"].to_numpy()[oky]
        nx = np.sqrt((X * X).sum(axis=1))
        ny = np.sqrt((Y * Y).sum(axis=1))
        denom = np.outer(nx, ny)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((X @ Y.T) / denom, round_to)
        mask = np.isfinite(sims) & (sims >= threshold)
        if diagonal:
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return empty
        a = ida[ii]
        b = idb[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b).astype("int64"),
                "id_b": np.maximum(a, b).astype("int64"),
                "cosine_sim": sims[ii, jj],
            }
        )

    return _fn


def _semantic_prune_kernel(threshold: float, round_to: int):
    """groupBy(cluster) kernel for ``dedup.semantic_dedup``: one cluster
    → the member ids pruned because some LOWER-id member sits at rounded
    cosine ≥ threshold, via a single float64 gemm over the cluster tile
    (the ``_pair_block_kernel`` precedent applied to SemDeDup's
    within-cluster stage — the interpreted per-pair fold it replaces is
    parity-locked as ``impl="fold"``).  Unusable rows (null vector,
    ragged length, non-finite element) are dropped by ``_clean_matrix``
    exactly as in the other gemm kernels: they neither prune nor get
    pruned, matching the fold path's NULL-sim → filter-false behavior.
    Cluster tiles are (size × size) — bounded because SemDeDup scales
    CLUSTER COUNT with the corpus, keeping size ~constant; degenerate
    clusterings use ``max_cluster`` which routes to the capped fold
    path."""
    import numpy as np
    import pandas as pd

    def _fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"__id": pd.Series([], dtype="int64")})
        if len(pdf) < 2:
            return empty
        vals = pdf["__v"].tolist()
        dim = _infer_dim(vals)
        if not dim:
            return empty
        X, ok = _clean_matrix(vals, dim)
        if len(X) < 2:
            return empty
        ids = pdf["__id"].to_numpy()[ok]
        n = np.sqrt((X * X).sum(axis=1))
        denom = np.outer(n, n)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((X @ X.T) / denom, round_to)
        mask = (
            np.isfinite(sims)
            & (sims >= threshold)
            & (ids[:, None] < ids[None, :])
        )
        pruned = ids[mask.any(axis=0)]
        if len(pruned) == 0:
            return empty
        return pd.DataFrame({"__id": np.unique(pruned).astype("int64")})

    return _fn


def all_pairs_similarity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine join: every (id_a < id_b, cosine_sim) with
    rounded cosine ≥ threshold — the dense-BLAS replacement for a
    crossJoin + per-pair interpreted ``aggregate``/``zip_with`` fold
    (Spark never codegens higher-order-function lambdas, so the fold is
    pure interpreter CPU at O(n²) pairs; measured 5-10× slower than this
    tile grid on the same corpus).

    Shape: rows hash into ``n_blocks`` groups; the UPPER-TRIANGLE cell
    grid (block_a ≤ block_b, n·(n+1)/2 cells) pairs up via ``cogroup``
    and each cell runs ONE float64 gemm.  Each row is shuffled
    ``n_blocks+1`` times (vs 2·n_blocks for a full grid); no executor
    ever holds more than one (n/L × n/L) tile, so ``n_blocks`` ~
    √(cluster cores) bounds both memory and skew.  The O(n²) FLOPs are
    irreducible for exact semantics — that is what the LSH-blocked mode
    of ``embedding_neardup_pairs`` is for — but they run as dense BLAS.

    Ids must be integral (cast to long); null-id rows are dropped, like
    the fold path where ``id_a < id_b`` is null-false.
    """
    blocks = [F.lit(j).cast("long") for j in range(n_blocks)]
    # per-side column names MUST differ (__ida/__va vs __idb/__vb): both
    # sides share the source lineage, and Spark's cogroup attribute dedup
    # prunes same-expr-id data columns off the right side otherwise
    # (the kernel would receive only the grouping keys)
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_blocks))
    clean = df.filter(F.col(id_col).isNotNull())
    l = (
        clean.select(
            F.col(id_col).cast("long").alias("__ida"),
            F.col(vec_col).cast("array<double>").alias("__va"),
            blk.alias("__ca"),
        )
        .withColumn("__cb", F.explode(F.array(*blocks)))
        .filter(F.col("__cb") >= F.col("__ca"))
    )
    r = (
        clean.select(
            F.col(id_col).cast("long").alias("__idb"),
            F.col(vec_col).cast("array<double>").alias("__vb"),
            blk.alias("__cb"),
        )
        .withColumn("__ca", F.explode(F.array(*blocks)))
        .filter(F.col("__ca") <= F.col("__cb"))
    )
    return (
        l.groupBy("__ca", "__cb")
        .cogroup(r.groupBy("__ca", "__cb"))
        .applyInPandas(
            _pair_block_kernel(threshold, round_to),
            "id_a long, id_b long, cosine_sim double",
        )
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "block",
    left_blocks: int = 8,
    right_blocks: int = 8,
    round_to: int = 6,
    exclude_self: bool = True,
    nlist: int = 16,
    nprobe: int = 1,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Corpus-vs-corpus k-nearest-neighbor JOIN — both sides large, neither
    broadcastable (``cosine_topk`` covers the small-query-set case).

    Output: (query_id, neighbor_id, cosine_sim, nbr_rank) — for every LEFT
    row its k nearest RIGHT rows by cosine, deterministic tiebreak on
    neighbor id after rounding to ``round_to``.

    ``mode="block"`` — EXACT block-nested gemm join: left rows hash into
    ``left_blocks`` groups and replicate across ``right_blocks`` (and vice
    versa), the (lb, rb) grid cells pair up via ``cogroup``, and each cell
    runs ONE float64 gemm emitting its cell-local top-k; a final window
    re-ranks the ≤ right_blocks·k candidates per query.  Shuffle volume is
    right_blocks·|left| + left_blocks·|right| rows — choose block counts
    ~√(replication budget); the all-pairs CPU is irreducible for exact
    semantics (that is what ``mode="ivf"`` is for), but it runs as dense
    BLAS instead of an interpreted per-pair fold, and no executor ever
    holds more than one (|left|/L × |right|/R) tile.

    ``mode="ivf"`` — approximate: both sides assign to a shared coarse
    quantizer (``assign_centroids`` — map-only Arrow argmin) and only
    same-list pairs are compared (queries probe their ``nprobe`` nearest
    lists).  One equi-join-shaped cogroup on list id; recall vs the exact
    mode is the recall-tested trade.
    """
    from pyspark.sql import Window

    l = left.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__lv"),
    )
    r = right.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__rv"),
    )
    if mode == "block":
        # key types must match EXACTLY on both cogroup sides: pmod(xxhash64)
        # is long, so the replication literals are cast long too — a
        # (long,int)-vs-(int,long) key pair silently mis-aligns the groups
        l = l.withColumn(
            "__lb", F.pmod(F.xxhash64("query_id"), F.lit(left_blocks))
        ).withColumn(
            "__rb",
            F.explode(
                F.array(*[F.lit(j).cast("long") for j in range(right_blocks)])
            ),
        )
        r = r.withColumn(
            "__rb", F.pmod(F.xxhash64("neighbor_id"), F.lit(right_blocks))
        ).withColumn(
            "__lb",
            F.explode(
                F.array(*[F.lit(j).cast("long") for j in range(left_blocks)])
            ),
        )
    elif mode == "ivf":
        if centroids is None:
            centroids = seed_centroids(right, id_col, vec_col, nlist)
        if nprobe <= 1:
            l = assign_centroids(l, "__lv", centroids, round_to, out_col="__lb")
        else:
            l = _assign_nearest_lists(l, "__lv", centroids, round_to, nprobe, "__lb")
        r = assign_centroids(r, "__rv", centroids, round_to, out_col="__lb")
        l = l.withColumn("__lb", F.col("__lb").cast("long")).withColumn(
            "__rb", F.lit(0).cast("long")
        )
        r = r.withColumn("__lb", F.col("__lb").cast("long")).withColumn(
            "__rb", F.lit(0).cast("long")
        )
    else:
        raise ValueError(f"unknown knn_join mode {mode!r}")

    cells = (
        l.groupBy("__lb", "__rb")
        .cogroup(r.groupBy("__lb", "__rb"))
        .applyInPandas(
            _knn_block_kernel(k, round_to, exclude_self),
            "query_id long, neighbor_id long, cosine_sim double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    out = cells
    if mode == "ivf" and nprobe > 1:
        out = out.dropDuplicates(["query_id", "neighbor_id"])
    return (
        out.withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nbr_rank")
    )


def _assign_nearest_lists(
    df: DataFrame,
    vec_col: str,
    cent_list: list[tuple[int, list[float]]],
    round_to: int,
    nprobe: int,
    out_col: str,
) -> DataFrame:
    """Explode ``df`` to its ``nprobe`` nearest centroid ids — the
    multi-probe front of knn_join's IVF mode.  Arrow top-n argpartition
    per batch (map-only, nprobe× amplification, NO window/shuffle — a
    crossJoin×nlist + row_number would shuffle nlist× the frame);
    falls back to single-probe assignment without the numpy stack."""
    if not _HAS_ARROW:
        return assign_centroids(df, vec_col, cent_list, round_to, out_col=out_col)
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    mat = np.array([v for _, v in sorted(cent_list)], dtype=np.float64)
    cid_arr = np.array([c for c, _ in sorted(cent_list)], dtype=np.int64)
    c2 = (mat * mat).sum(axis=1)[None, :]
    n = min(nprobe, len(cid_arr))

    def _topn_fn(col):
        X, ok = _clean_matrix(col.tolist(), mat.shape[1])
        res: list = [None] * len(ok)
        if len(X):
            d2 = (X * X).sum(axis=1, keepdims=True) - 2.0 * (X @ mat.T) + c2
            d2 = np.round(np.maximum(d2, 0.0), round_to)
            # (d2 asc, cid asc) deterministic: the codebook is cid-sorted,
            # so a STABLE argsort breaks distance ties by lowest cid —
            # the same first-minimum rule as assign_centroids
            idx = np.argsort(d2, axis=1, kind="stable")[:, :n]
            lists = cid_arr[idx]
            j = 0
            for i, good in enumerate(ok):
                if good:
                    res[i] = lists[j].tolist()
                    j += 1
        return pd.Series(res)

    _topn = pandas_udf(_topn_fn, ArrayType(LongType()))
    return df.withColumn(
        out_col, F.explode(_topn(F.col(vec_col).cast("array<double>")))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, no numpy
    state leakage): xorshift-seeded gaussian via Box-Muller."""
    rnd_state = seed & 0xFFFFFFFF

    def rnd() -> float:
        nonlocal rnd_state
        rnd_state ^= (rnd_state << 13) & 0xFFFFFFFF
        rnd_state ^= rnd_state >> 17
        rnd_state ^= (rnd_state << 5) & 0xFFFFFFFF
        return rnd_state / 0xFFFFFFFF

    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1, u2 = max(rnd(), 1e-12), rnd()
            v.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign-bit signature as an int."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        # one JVM call per plane (not per component — py4j round trips)
        plane = F.expr(
            "array({})".format(", ".join(f"{float(x)!r}D" for x in p))
        )
        bit = F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing an LSH bucket.

    2^n_planes buckets; the candidate join is an equi-join on bucket id, so
    at scale the corpus shuffles once by bucket instead of cross-joining.

    Multi-probe: each query also probes buckets within ``probe_radius``
    sign-bit flips of its own (the bits most likely to be wrong for a true
    neighbor), trading (1 + n_planes) query-side fan-out for much higher
    recall — the standard LSH recall/cost lever.  The fan-out happens on
    the small broadcast side; the corpus is still touched once.
    Recall is tested against cosine_topk in tests/test_operators.py.
    """
    from pyspark.sql import Window

    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    if probe_radius >= 1:
        probes = [F.col("__bucket")] + [
            F.col("__bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
        q = q.select(
            "query_id",
            "__qvec",
            F.explode(F.array(*probes)).alias("__bucket"),
        )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), "__bucket")
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        # multi-probe can surface the same pair via two buckets
        .dropDuplicates(["query_id", "neighbor_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", sim)
        .withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nbr_rank")
    )


def quantize_embeddings(df, emb_col: str = "embedding", out: str = "q"):
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127].

    The storage-scale path for a 100 TB embedding corpus: int8 arrays are
    4× smaller than float32 on disk and in shuffle, and the scale column
    lets consumers dequantize (x ≈ q·scale) or compute int8 dot products.
    Map-only pure-Column pass — no UDF, no shuffle; all math in float64 so
    the DuckDB oracle reproduces it bit-for-bit (an all-zero vector gets
    scale 0 and an all-zero q).
    """
    e = F.col(emb_col)
    scale = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double")))) / 127.0
    q = F.when(
        scale == 0.0,
        F.transform(e, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(e, lambda x: F.round(x.cast("double") / scale).cast("int"))
    )
    return df.withColumn(f"{out}_scale", scale).withColumn(out, q)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze, Schmid 2011, "Product
# Quantization for Nearest Neighbor Search" (public paper; the FAISS PQ/
# IVF-PQ compression stage).
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic seed codebooks: subspace ``j``'s codebook is the
    j-th subvector of the ``k`` lowest-id corpus vectors, re-indexed to
    dense codes 0..k-1 in ascending id order (the seed-quantizer analogue
    of ``seed_centroids`` — SQL-expressible, so PQ encoding carries an
    exact oracle; pass the result through per-subspace Lloyd refinement
    offline when recall matters more than oracle parity)."""
    rows = (
        corpus.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .collect()
    )
    if len(rows) < k:
        # ids < k is the oracle-pinned seeding (s06-family corpora always
        # have ids 0..k-1, so their path is byte-identical) — but a
        # RETRAIN corpus has arbitrary ids: the low ids may have been
        # forgotten, or the id space may not start at 0.  Fall back to
        # the k lowest ids PRESENT (still deterministic; codes re-index
        # densely below either way).
        rows = (
            corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
            .dropDuplicates(["i"])
            .orderBy("i")
            .limit(k)
            .collect()
        )
    if not rows:
        raise ValueError("empty corpus: cannot seed PQ codebooks")
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    return [
        [
            (code, [float(x) for x in r["v"][j * d_sub : (j + 1) * d_sub]])
            for code, r in enumerate(rows)
        ]
        for j in range(m)
    ]


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    round_to: int = 6,
    max_train: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Lloyd-refined PQ codebooks (the FAISS PQ training step): seed with
    ``pq_codebooks``, then per iteration assign every (subspace,
    subvector) pair to its nearest code and recompute per-subspace
    element-wise means.

    One distributed pass per iteration covers ALL m subspaces at once:
    each row explodes to its m subvectors tagged with the subspace index,
    the fold picks the j-th codebook out of one nested literal, and the
    mean shuffle carries ~m × k × dim/m = k × dim rows regardless of
    corpus size (map-side combine) — same scale shape as
    ``kmeans_centroids``.  Codebooks stay driver-sized throughout.

    ``max_train`` bounds the training sample like ``kmeans_centroids``
    (FAISS practice; default max(10_000, 50·k) rows, deterministic
    lowest-xxhash64 draw; 0 = full corpus)."""
    if max_train is None:
        max_train = max(10_000, 50 * k)
    books = pq_codebooks(corpus, id_col, vec_col, m, k)
    d_sub = len(books[0][0][1])
    vec = F.col(vec_col)
    train = corpus
    if max_train:
        train = corpus.orderBy(
            F.xxhash64(F.col(id_col)), F.col(id_col)
        ).limit(max_train)
        if iters > 1:
            train = train.select(id_col, vec_col).localCheckpoint(eager=True)
    subs = train.select(
        F.posexplode(
            F.array(
                *[
                    F.transform(
                        F.slice(vec, j * d_sub + 1, d_sub),
                        lambda x: x.cast("double"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("j", "v")
    )
    for _ in range(iters):
        nested = F.array(*[_cent_literal(b) for b in books])
        assigned = subs.select(
            "j",
            _argmin_fold(F.col("v"), F.element_at(nested, F.col("j") + 1), round_to).alias(
                "code"
            ),
            F.posexplode("v").alias("pos", "val"),
        )
        means = (
            assigned.groupBy("j", "code", "pos")
            .agg(F.avg("val").alias("mu"))
            .groupBy("j", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .collect()
        )
        new_books = [dict(b) for b in books]
        for r in means:
            new_books[r["j"]][int(r["code"])] = [float(p["mu"]) for p in r["pm"]]
        books = [sorted(nb.items()) for nb in new_books]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    out: str = "pq",
    impl: str = "arrow",
) -> DataFrame:
    """Encode each vector as ``m`` subspace codes: ``out`` is an
    ``array<struct<code, d2>>`` (nearest codebook entry + its squared
    subspace distance = the reconstruction error contribution).

    ``impl="arrow"`` (default): Arrow-batched numpy — the distance matrix
    is one BLAS gemm per subspace.  The SQL ``aggregate`` fold
    (``impl="fold"``) runs every lambda interpreted (Spark codegens no
    higher-order function), measured ~5× slower at m=8·k=16·dim=64; the
    fold stays for environments that must remain pure-JVM.  Ties and
    rounding are bit-matched: distances round to ``round_to`` before the
    argmin and equal distances take the lowest cid on both paths.

    Map-only: one argmin fold per subspace over a plan-literal codebook
    (m × k × dim/m = k × dim elements total — the FULL-dimension
    quantizer budget, so the plan-size ceiling of the centroid literal
    never binds here: k is 256 in production PQ, dim ≤ a few thousand).
    Storage: m bytes-scale codes per vector instead of 4·dim — 32× on a
    float32 dim-64 corpus at m=8."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    if impl == "fold":
        vec = F.col(vec_col)
        subs = [
            _argmin_struct(
                F.transform(
                    F.slice(vec, j * d_sub + 1, d_sub), lambda x: x.cast("double")
                ),
                _cent_literal(codebooks[j]),
                round_to,
            )
            for j in range(m)
        ]
        return df.select(
            F.col(id_col),
            F.array(
                *[
                    F.struct(s["cid"].alias("code"), s["d2"].alias("d2"))
                    for s in subs
                ]
            ).alias(out),
        )
    if impl != "arrow":
        raise ValueError(f"unknown pq_encode impl {impl!r}")
    if not _HAS_ARROW:
        return pq_encode(
            df, codebooks, id_col=id_col, vec_col=vec_col,
            round_to=round_to, out=out, impl="fold",
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # (k, d_sub) matrices + cid vectors per subspace, broadcast in the
    # udf closure; argmin ties resolve to the LOWEST cid because each
    # codebook is cid-sorted and np.argmin returns the first minimum —
    # identical to the fold's strict-< semantics on rounded distances.
    mats = [np.array([v for _, v in cb], dtype=np.float64) for cb in codebooks]
    cids = [np.array([c for c, _ in cb], dtype=np.int64) for cb in codebooks]

    ret = ArrayType(
        StructType(
            [StructField("code", LongType()), StructField("d2", DoubleType())]
        )
    )

    # no type annotations: the module uses `from __future__ import
    # annotations`, so the hint inspector would see unresolvable strings
    def _encode_fn(col):
        # null / ragged / non-finite vectors encode as NULL (see
        # _clean_matrix) instead of crashing the whole Arrow batch
        X, ok = _clean_matrix(col.tolist(), m * d_sub)
        per_sub = []
        for j in range(m):
            Xj = X[:, j * d_sub : (j + 1) * d_sub]
            # ||x-c||^2 expanded via gemm — one BLAS call per subspace
            d2 = (
                (Xj * Xj).sum(axis=1, keepdims=True)
                - 2.0 * (Xj @ mats[j].T)
                + (mats[j] * mats[j]).sum(axis=1)[None, :]
            )
            d2 = np.round(np.maximum(d2, 0.0), round_to)
            idx = np.argmin(d2, axis=1)
            per_sub.append(
                (cids[j][idx], d2[np.arange(len(idx)), idx])
            )
        outs = [None] * len(ok)
        r = 0
        for i in range(len(ok)):
            if not ok[i]:
                continue
            outs[i] = [
                {"code": int(per_sub[j][0][r]), "d2": float(per_sub[j][1][r])}
                for j in range(m)
            ]
            r += 1
        return pd.Series(outs)

    _encode = pandas_udf(_encode_fn, ret)
    return df.select(F.col(id_col), _encode(F.col(vec_col)).alias(out))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
    exact_decimal: bool = False,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes.

    Query side (tiny, broadcast): per subspace, the distance table from
    the query subvector to every codebook entry — m × k doubles per
    query, computed map-side from the codebook literal.  Corpus side:
    distance = Σ_j table[j][code_j] — a pure lookup fold over the m
    stored codes; the 4·dim-byte vector never leaves storage.  Shape is
    identical to ``cosine_topk``: broadcast queries, map-only corpus
    scan, per-query top-k window."""
    from pyspark.sql import Window

    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    qvec = F.col(vec_col)

    def _table(j: int) -> Column:
        # NOTE: a two-parameter lambda would make transform() pass the
        # ELEMENT INDEX as the second argument — close over j explicitly
        sub = F.transform(
            F.slice(qvec, j * d_sub + 1, d_sub), lambda x: x.cast("double")
        )
        return F.transform(
            _cent_literal(codebooks[j]),
            lambda c: F.round(l2sq(sub, c["vec"]), round_to),
        )

    tables = F.array(*[_table(j) for j in range(m)])
    q = queries.select(
        F.col(id_col).alias("query_id"), tables.alias("__tabs")
    )
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    if exact_decimal:
        # order-independent ADC: the per-subspace table entries (already
        # rounded to round_to) accumulate as DECIMAL, so the m-term sum is
        # bit-identical across engines/plans — the convention an exact
        # oracle needs when the sum lands on a round() boundary
        adc = F.aggregate(
            idx,
            F.lit(0).cast("decimal(28,10)"),
            lambda acc, j: (
                acc
                + F.element_at(
                    F.element_at(F.col("__tabs"), j + 1),
                    F.element_at(F.col("pq"), j + 1)["code"].cast("int") + 1,
                ).cast("decimal(28,10)")
            ).cast("decimal(28,10)"),
            lambda acc: acc.cast("double"),
        )
    else:
        adc = F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(F.col("__tabs"), j + 1),
                F.element_at(F.col("pq"), j + 1)["code"].cast("int") + 1,
            ),
        )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        _spread(codes.select(F.col(id_col).alias("neighbor_id"), "pq"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_d2", F.round(adc, round_to))
        .withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "nbr_rank")
    )


def pq_refine_topk(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    candidates: int | None = None,
    round_to: int = 6,
    exact_decimal: bool = False,
) -> DataFrame:
    """Two-stage retrieval (FAISS ``IndexRefineFlat`` pattern): ADC over
    the stored m-byte PQ codes selects ``candidates`` ≥ k per query, then
    ONLY those rows re-rank by exact cosine against the full-precision
    vectors.

    Scale shape: stage 1 is ``pq_topk`` — broadcast query tables, map-only
    scan of the code table (the 4·dim-byte vectors never leave storage).
    Stage 2 broadcasts the |Q|·candidates skinny candidate frame against
    the vector table: a broadcast-hash semi-fetch, map-only on the corpus,
    touching full vectors for candidates ONLY (~|Q|·c of N rows).  At
    dim-768 float32 / m=16 that is the ~190× IO cut of PQ with the exact
    final ordering PQ alone cannot give.  The re-rank window runs over
    |Q|·c rows — driver-bounded, never corpus-sized.
    """
    from pyspark.sql import Window

    c = candidates if candidates is not None else max(4 * k, 32)
    if c < k:
        raise ValueError(f"candidates={c} < k={k}")
    cand = pq_topk(
        codes, queries, codebooks, id_col, vec_col,
        k=c, round_to=round_to, exact_decimal=exact_decimal,
    ).select("query_id", "neighbor_id", "adc_d2")
    nbr = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__nv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        nbr.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine(F.col("__qv"), F.col("__nv")), round_to))
        .withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "cos", "nbr_rank")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k0: int = 60,
    k: int | None = None,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack 2009) of ranked retrieval lists:
    score(d) = Σ_lists 1/(k0 + rank_d) over the lists that returned d.

    The hybrid-search combiner for lexical (BM25) + vector (ANN) top-k:
    each input is an already-bounded (query, id, rank) frame — |Q|·k rows,
    the corpus never reappears — so fusion is one union + one tiny
    aggregate; at 100 TB the cost lives entirely in the upstream
    retrievers.  Per-document addition order cannot perturb the score:
    each list contributes at most one term per (query, doc), terms are
    summed as DECIMAL of the 10-dp-rounded reciprocal, so the result is
    engine/plan independent (the SQL-oracle convention).  Ties break on
    ascending id.  ``k`` bounds the fused output per query (None = all).
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    from pyspark.sql import Window

    parts = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.round(
                F.lit(1.0) / (F.lit(k0) + F.col(rank_col).cast("double")), 10
            )
            .cast("decimal(28,10)")
            .alias("__r"),
        )
        for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("__r").cast("double").alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    fused = fused.withColumn("fused_rank", F.row_number().over(w))
    if k is not None:
        fused = fused.filter(F.col("fused_rank") <= k)
    return fused.select("query_id", "doc_id", "rrf", "n_lists", "fused_rank")


#: hidden subdirectory of the lists surface holding the quantizer
#: sidecars (centroids, and for PQ: codebooks + params).  Spark's file
#: listing skips '_'-prefixed paths, so the lists scan never sees it —
#: but it RIDES THE SAME COMMIT as the lists: one pointer flip publishes
#: quantizer and lists together, so a crash can never leave new lists
#: served under an old quantizer or vice versa (the r10 ADVICE finding:
#: the previous layout overwrote {path}/centroids in place AFTER the
#: lists swap).
_QUANT = "_quantizer"


def _write_quantizer(spark, lists_dir, centroids, books=None, params=None):
    """Write the quantizer sidecars INTO a lists directory — normally a
    stage about to be published, so the single crash-safe commit that
    publishes the lists publishes the quantizer that produced them."""
    q = f"{lists_dir}/{_QUANT}"
    small_df(
        spark,
        list(centroids),
        "centroid_id long, __cent array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{q}/centroids")
    if books is not None:
        small_df(
            spark,
            [(j, c, v) for j, b in enumerate(books) for c, v in b],
            "j long, code long, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{q}/codebooks")
    if params is not None:
        residual, m, k_pq = params
        small_df(
            spark,
            [(bool(residual), m, k_pq)],
            "residual boolean, m long, k_pq long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{q}/params")


def _read_sidecar_rows(spark, path: str) -> list[dict]:
    """Rows of a quantizer-sized parquet sidecar (a handful of KB).

    Driver-side pyarrow read when the resolved path is a plain local
    directory/file — ZERO Spark jobs, where the ``spark.read...collect``
    fallback pays a schema-inference job plus a collect job PER SIDECAR
    on every index ``load()`` (r12 job-trace: 6-7 metadata micro-jobs per
    serving call).  Non-local schemes keep the Spark read."""
    import glob as _glob
    import os

    local = path[7:] if path.startswith("file://") else path
    if "://" not in local:
        try:
            import pyarrow.parquet as pq

            if os.path.isdir(local):
                parts = sorted(_glob.glob(os.path.join(local, "*.parquet")))
            else:
                parts = [local] if os.path.exists(local) else []
            if parts:
                rows: list[dict] = []
                for p in parts:
                    rows.extend(pq.read_table(p).to_pylist())
                return rows
        except Exception:  # noqa: BLE001 - fall back to the Spark read
            pass
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _quant_path(spark, path: str, name: str) -> str:
    """Physical path of quantizer sidecar ``name``: the in-generation
    ``_quantizer/`` copy of the CURRENT lists directory when present
    (resolved through dirswap.read_path — the pointer-aware
    resolver), else the legacy ``{path}/<name>`` sidecar (read-only
    back-compat; any rewrite migrates to the in-generation layout)."""
    from .dirswap import fs_exists, read_path

    lists_dir = read_path(f"{path}/lists", spark)
    new = f"{lists_dir}/{_QUANT}/{name}"
    return new if fs_exists(new, spark) else f"{path}/{name}"


def _drop_legacy_quantizer(spark, path: str) -> None:
    """Best-effort removal of the pre-r11 plain quantizer sidecars after
    a publish wrote the in-generation copy — a crash before this leaves
    stale-but-never-read files (``_quant_path`` prefers the new layout)."""
    from .dirswap import fs_rmtree

    for name in ("centroids", "codebooks", "params"):
        fs_rmtree(f"{path}/{name}", spark)


def _verify_index_dir(spark):
    """``swap_in`` verify for an IVF lists directory: the lists AND the
    in-directory quantizer must both open — they are one atomic unit."""

    def _v(p):
        spark.read.parquet(p).first()
        spark.read.parquet(f"{p}/{_QUANT}/centroids").first()

    return _v


class IvfIndex:
    """Persisted IVF-flat index: the inverted lists as a parquet table
    PARTITIONED BY centroid_id, plus the coarse quantizer alongside.

    ``ivf_topk`` re-assigns the corpus on every call — right for one-shot
    queries, wasteful for a served index.  Building once and persisting
    turns every subsequent search into a *partition-pruned* scan: the
    probed centroid ids are known before the scan (they come from the
    driver-sized quantizer), so the reader touches ~nprobe/nlist of the
    corpus files and nothing else.  At 100 TB that is the difference
    between reading 100 TB and reading ~nprobe/nlist of it.

    Layout under ``path``:
      lists/centroid_id=<cid>/__bk=<batch>/part-*.parquet
                                               (neighbor_id, __cvec)
      lists/_quantizer/centroids/part-*.parquet (centroid_id, __cent —
          inside the lists swap surface, so quantizer + lists commit in
          ONE atomic publish; a pre-r11 plain {path}/centroids sidecar
          is still readable and migrates on the next rewrite)

    ``__bk`` is the ingest-batch subpartition (the Bm25Index pattern):
    ``build`` writes ``__bk=base``, a keyed ``add`` lands in
    ``__bk=k-<key>`` via dynamic overwrite so a crash-replay rewrites
    ONLY its own files, and an un-keyed ``add`` appends under a fresh
    ``u<N>`` counter.  Search prunes on ``centroid_id`` exactly as
    before — the extra level changes which files a partition holds, not
    which partitions a probe opens.
    """

    _BASE_KEY = "base"

    def __init__(self, path: str, centroids: list[tuple[int, list[float]]]):
        from .dirswap import require_swap_capable

        # the maintenance surface (dirswap staged swaps, u<N> counters,
        # tombstone/keyed-batch dir checks, emptied-partition cleanup) is
        # scheme-dispatched — every known store runs the generations
        # commit; unknown schemes are refused loudly
        self.path = require_swap_capable(path)
        self.centroids = centroids

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int = 16,
        train_iters: int = 0,
        round_to: int = 6,
    ) -> "IvfIndex":
        """Assign every corpus vector to its nearest centroid (the same
        map-only argmin fold ivf_topk uses) and write the lists partitioned
        by centroid_id — one distributed write, no shuffle beyond the
        partitioned-write split.  The write PUBLISHES through the
        generations commit (stage + ``swap_in``): on a surface
        that already carries a generation pointer the rebuild lands in a
        NEW generation readers actually resolve (the r10 ADVICE finding —
        a plain write there was invisible to ``read_path`` and reaped by
        the next GC), and the quantizer commits atomically with its
        lists."""
        from .dirswap import stage_path, swap_in

        spark = corpus.sparkSession
        if train_iters > 0:
            centroids = kmeans_centroids(
                corpus, id_col, vec_col, nlist, iters=train_iters, round_to=round_to
            )
        else:
            centroids = _seed_or_lowest_present(corpus, id_col, vec_col, nlist)
        assigned = assign_centroids(
            _spread(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__cvec"),
                )
            ),
            "__cvec",
            centroids,
            round_to,
        )
        live = f"{path}/lists"
        stage = stage_path(live, spark)
        assigned.withColumn("__bk", F.lit(cls._BASE_KEY)).write.partitionBy(
            "centroid_id", "__bk"
        ).mode("overwrite").parquet(stage)
        _write_quantizer(spark, stage, centroids)
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, path)
        return cls(path, list(centroids))

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        cents = [
            (r["centroid_id"], list(r["__cent"]))
            for r in _read_sidecar_rows(
                spark, _quant_path(spark, path, "centroids")
            )
        ]
        return cls(path, sorted(cents))

    def search(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 4,
        round_to: int = 6,
    ) -> DataFrame:
        """Probe-pruned search: identical candidate generation and ranking
        to ``ivf_topk`` with the same quantizer, but the corpus side is the
        persisted lists filtered to the union of probed centroid ids —
        a static partition filter the parquet reader prunes on.

        Driver bound (r12 ADVICE): the probed-id dedup collects the
        |Q|·nprobe probe rows (one int column) to the driver — ``queries``
        must stay broadcast-sized, the same contract the q_probe
        broadcast join below already imposes; a query set past broadcast
        scale should be chunked by the caller."""
        from pyspark.sql import Window

        spark = queries.sparkSession
        cents = small_df(
            spark,
            list(self.centroids),
            "centroid_id long, __cent array<double>",
            )
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
        q_d2 = F.round(l2sq(F.col("__qvec"), F.col("__cent")), round_to)
        w_q = Window.partitionBy("query_id").orderBy("__d2", "centroid_id")
        q_probe = (
            q.crossJoin(F.broadcast(cents))
            .withColumn("__d2", q_d2)
            .withColumn("__r", F.row_number().over(w_q))
            .filter(F.col("__r") <= nprobe)
            .select("query_id", "__qvec", "centroid_id")
            # |Q|·nprobe rows consumed TWICE (the probed-list union below
            # and the broadcast join) — materialize once instead of
            # re-running the query scan + probe window per consumer
            .localCheckpoint(eager=True)
        )
        # the probed-list union is driver-sized (≤ nlist ints) and becomes
        # a partition filter — the scan never opens unprobed lists
        probed = sorted(
            # |Q|·nprobe rows: dedup DRIVER-side — a distinct() here paid
            # an exchange plus its AQE stage jobs on a control-plane-sized
            # checkpointed frame (r12, guide §5)
            {r.centroid_id for r in q_probe.select("centroid_id").collect()}
        )
        lists = self._lists(spark).filter(
            F.col("centroid_id").isin(probed)
        )
        sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), round_to)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbor_id")
        )
        return (
            lists.join(F.broadcast(q_probe), "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine_sim", sim)
            .withColumn("nbr_rank", F.row_number().over(w))
            .filter(F.col("nbr_rank") <= k)
            .select("query_id", "neighbor_id", "cosine_sim", "nbr_rank")
        )

    def add(self, batch: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding", round_to: int = 6,
            idempotency_key: str | None = None) -> None:
        """Incremental index maintenance: assign a new batch against the
        FROZEN quantizer and land it in the partitioned lists — cost
        scales with the batch, the existing lists are untouched.  The
        standard IVF serving pattern: rebuild the quantizer only when
        drift warrants it, add otherwise.

        ``idempotency_key`` makes the add REPLAYABLE (the Bm25Index.ingest
        / ledger contract, so ``admission_sink`` can keep the vector index
        in exactly-once lockstep): the batch lands in ``__bk=k-<key>``
        subpartitions of each touched centroid via DYNAMIC overwrite — a
        crash-replay rewrites only its own files — and re-USING a key for
        a different batch is refused by comparing the stored rows under
        the key against the batch's full assigned rows (id, vector and
        centroid), so different vectors with the same ids are still
        caught.  Stored ⊆ batch is legal (a crashed partial write; the
        replay completes it); stored rows ABSENT from the batch are
        refused.  Without a key the batch is APPENDED under a fresh
        ``u<N>`` partition (caller owns at-most-once; replays WILL
        double-count)."""
        spark = batch.sparkSession
        existing = self._lists(spark)
        _require_bk_layout(existing, self.path, "IvfIndex", "add()")
        # new files must carry the SAME element type as the existing
        # lists — a float corpus + double batch would poison the parquet
        # table with mixed per-partition schemas
        vec_type = existing.schema["__cvec"].dataType
        assigned = assign_centroids(
            _spread(
                batch.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).cast(vec_type).alias("__cvec"),
                )
            ),
            "__cvec",
            self.centroids,
            round_to,
        )
        if idempotency_key is None:
            from .bm25 import _warn_unkeyed_into_keyed_index

            lists_dir = self._lists_dir(spark)
            _warn_unkeyed_into_keyed_index(
                self.path, lists_dir, "centroid_id="
            )
            key = _unkeyed_lists_name(lists_dir)
            (
                assigned.withColumn("__bk", F.lit(key))
                .write.partitionBy("centroid_id", "__bk")
                .mode("append")
                .parquet(lists_dir)
            )
            return
        from .bm25 import _safe_index_key

        key = "k-" + _safe_index_key(idempotency_key)
        # drop rows forget() tombstoned UNDER THIS KEY: without this, a
        # replay after a deletion reads the purge as a crashed partial
        # write (stored ⊂ batch) and resurrects the forgotten vectors.
        # Scoped to the key, so a LATER re-admission of the same id under
        # a new key stays legal (a fresh admission decision).
        from .bm25 import _tombstoned_ids

        dead = _tombstoned_ids(
            spark, f"{self.path}/tombstones", key, "neighbor_id"
        )
        if dead is not None:
            assigned = assigned.join(
                F.broadcast(dead), "neighbor_id", "left_anti"
            )
        # materialize the assignment ONCE: the key-reuse guard and the
        # write both consume it (batch-sized)
        assigned = assigned.localCheckpoint(eager=True)
        stored = (
            self._lists(spark)
            .filter(F.col("__bk") == key)
            .select("neighbor_id", "__cvec", "centroid_id")
        )
        if stored.exceptAll(assigned).limit(1).count():
            raise ValueError(
                f"idempotency_key {idempotency_key!r} was previously used "
                "for a different batch (stored list rows are not a subset "
                "of this batch's assignment); replaying it would overwrite "
                "unrelated index state — use a run-scoped key"
            )
        (
            assigned.withColumn("__bk", F.lit(key))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("centroid_id", "__bk")
            .parquet(self._lists_dir(spark))
        )

    def _lists(self, spark) -> DataFrame:
        """Open the inverted lists — the generation the pointer names."""
        return spark.read.parquet(self._lists_dir(spark))

    def _lists_dir(self, spark) -> str:
        """Physical lists directory (dirswap.read_path) — the target for
        in-place keyed/unkeyed writes and partition-pruned purges."""
        from .dirswap import read_path

        return read_path(f"{self.path}/lists", spark)

    def balance(self, spark) -> DataFrame:
        """Per-list health: vector count + mean/max assigned distance to
        the FROZEN centroid (one scan, map-side-combined agg — ~nlist
        rows out).  The drift signal for a served index: skewed ``add()``
        batches inflate a few lists' counts and distances, degrading both
        probe recall and partition pruning.  Persist snapshots to
        ``{path}/meta/balance`` and compare across ingests; when the
        max/median count ratio or the distance trend crosses your
        threshold, ``retrain()``."""
        cents = small_df(
            spark,
            list(self.centroids),
            "centroid_id long, __cent array<double>",
            )
        d2 = F.round(l2sq(F.col("__cvec"), F.col("__cent")), 6)
        return (
            self._lists(spark)
            .join(F.broadcast(cents), "centroid_id")
            .groupBy("centroid_id")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.round(F.avg(d2), 6).alias("mean_d2"),
                F.max(d2).alias("max_d2"),
            )
        )

    def snapshot_balance(self, spark, tag: str = "latest") -> None:
        """Append one tagged balance snapshot to ``{path}/meta/balance``
        (the index's own monitoring table — rowgroup-health's analogue,
        TableHealthCount.sql:13-36, for inverted lists)."""
        self.balance(spark).withColumn("tag", F.lit(tag)).write.mode(
            "append"
        ).parquet(f"{self.path}/meta/balance")

    def retrain(self, spark, nlist: int | None = None, train_iters: int = 2,
                round_to: int = 6) -> "IvfIndex":
        """Rebuild the quantizer from the CURRENT contents and re-list
        every vector under it — the drift remediation the frozen-quantizer
        ``add()`` path defers.  Runs Lloyd refinement over the indexed
        vectors (kmeans_centroids: map-only assignment + ~nlist×dim-row
        shuffles), then rewrites the lists through the same verified
        staged publish as ``compact()`` — searches keep working against
        the old lists until the pointer commits, and a crash leaves them
        current.  The new quantizer rides INSIDE the staged lists
        directory, so the one commit publishes both — no window where new
        lists are served under the old centroids (r10 ADVICE: the previous
        in-place centroids overwrite was delete-then-write on object
        stores)."""
        from .dirswap import stage_path, swap_in

        corpus = self._lists(spark).select("neighbor_id", "__cvec", "__bk")
        new_cents = kmeans_centroids(
            corpus,
            id_col="neighbor_id",
            vec_col="__cvec",
            nlist=nlist or len(self.centroids),
            iters=train_iters,
            round_to=round_to,
        )
        stage = stage_path(f"{self.path}/lists", spark)
        # rows move to their NEW nearest list but keep their __bk (the
        # assignment is a map-only annotation, __bk rides along): a keyed
        # replay after a retrain still finds its stored rows (re-assigned
        # under the same new quantizer the guard uses) and converges
        assigned = assign_centroids(corpus, "__cvec", new_cents, round_to)
        assigned.write.partitionBy("centroid_id", "__bk").mode(
            "overwrite"
        ).parquet(stage)
        _write_quantizer(spark, stage, new_cents)
        live = f"{self.path}/lists"
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, self.path)
        self.centroids = list(new_cents)
        return self

    def compact(self, spark, files_per_list: int = 1) -> int:
        """Rebuild the inverted lists' accumulated ``add()`` batches into
        ``files_per_list`` files per (centroid, batch) partition (staged
        generation + verified pointer commit, dirswap.swap_in: live index
        untouched until the commit, a crash mid-publish leaves the
        previous generation current).  Keeps the partition-pruned search's
        per-list open/footer cost flat as small writes accumulate WITHIN batches;
        the ``__bk`` subpartitions themselves are preserved — folding
        them together would make a later keyed replay see an empty
        ``__bk=k-<key>`` and re-ingest (double count), so per-list footer
        cost floors at one file per live batch.  Returns the
        indexed-vector count.  The (unchanged) quantizer is re-written
        into the stage so it stays inside the swapped directory — this
        is also the migration path off the legacy plain sidecar."""
        from .dirswap import stage_path, swap_in

        lists = self._lists(spark)
        _require_bk_layout(lists, self.path, "IvfIndex", "compact()")
        stage = stage_path(f"{self.path}/lists", spark)
        (
            lists.repartition(files_per_list * max(len(self.centroids), 1),
                              "centroid_id")
            .write.partitionBy("centroid_id", "__bk")
            .mode("overwrite")
            .parquet(stage)
        )
        _write_quantizer(spark, stage, self.centroids)
        n = spark.read.parquet(stage).count()
        live = f"{self.path}/lists"
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, self.path)
        return n

    def forget(self, spark, vec_ids: DataFrame, id_col: str = "vec_id") -> int:
        """Deletion propagation into the served index (the ledger
        ``forget`` contract applied to ANN artifacts): purge the given
        vector ids from the inverted lists so searches stop returning
        them.  PARTITION-PRUNED: one narrow (id, centroid) scan finds the
        affected lists, then ONLY those centroid partitions are rewritten
        via dynamic partition overwrite — untouched lists keep their
        files byte-identical, so cost scales with the purged lists, not
        the index.  Partitions emptied by the purge are dropped
        explicitly (dynamic overwrite leaves absent partitions alone).
        Crash contract: the per-partition overwrite is not atomic across
        lists — on failure RE-RUN the same forget; it is idempotent
        (already-purged lists simply stop matching) and converges.
        Purged (id, batch) pairs are tombstoned under
        ``{path}/tombstones`` so a keyed ``add`` REPLAY of the purged
        batch cannot resurrect them (forget-then-crash-replay).  Returns
        the number of purged index entries."""
        return _ivf_lists_forget(
            spark, self._lists_dir(spark), self._lists(spark), vec_ids,
            id_col, tombstone_dir=f"{self.path}/tombstones",
        )

    def prune_tombstones(
        self, spark, settled_keys=(), include_unreplayable: bool = False
    ) -> int:
        """Tombstone retention (see ``operators.bm25.prune_tombstones``):
        drop forget-tombstones for batch keys that can never replay.
        Run at maintenance cadence beside ``compact``."""
        from .bm25 import prune_tombstones

        return prune_tombstones(
            spark,
            f"{self.path}/tombstones",
            settled_keys,
            include_unreplayable=include_unreplayable,
        )


def _ivf_lists_forget(
    spark, lists_path: str, lists: DataFrame, vec_ids: DataFrame,
    id_col: str, tombstone_dir: str | None = None,
) -> int:
    """Shared partition-pruned purge for IvfIndex/IvfPqIndex lists.

    Partition grain is introspected: current layouts (both IvfIndex and
    IvfPqIndex) carry the ``__bk`` ingest-batch subpartition — purge
    rewrites only touched (centroid, batch) pairs, finer than
    per-centroid, so untouched BATCHES inside a touched centroid stay
    byte-identical too; a pre-``__bk`` legacy layout degrades to the old
    per-centroid grain.

    ``tombstone_dir``: when given (both index classes pass it), the
    purged (neighbor_id, __bk) pairs are MERGED into the deduped
    tombstone table before the rewrite — the record a later keyed
    ``add`` replay checks so a crash-replay of the purged batch cannot
    resurrect forgotten vectors (the stored-subset guard alone would
    read the purge as a crashed partial write and re-ingest)."""
    from .dirswap import fs_isdir, fs_listdir, fs_rmtree

    part_cols = ["centroid_id"] + (
        ["__bk"] if "__bk" in lists.columns else []
    )
    purge = F.broadcast(
        vec_ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    )
    # ONE purged-rows materialization serves the partition census AND the
    # tombstone append (deletion-batch-bounded)
    purged_rows = (
        lists.join(purge, "neighbor_id", "semi")
        .select("neighbor_id", *part_cols)
        .localCheckpoint(eager=True)
    )
    hits = (
        purged_rows.groupBy(*part_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hits:
        return 0
    if tombstone_dir is not None and "__bk" in lists.columns:
        from .bm25 import _merge_tombstones

        _merge_tombstones(
            tombstone_dir, purged_rows.select("neighbor_id", "__bk").distinct()
        )
    touched = [tuple(r[c] for c in part_cols) for r in hits]
    removed = sum(r.n for r in hits)
    part_schema = ", ".join(
        f"{c} {'string' if c == '__bk' else 'long'}" for c in part_cols
    )
    touched_df = F.broadcast(
        small_df(spark, touched, part_schema)
    )
    cids = sorted({t[0] for t in touched})
    kept = (
        # static centroid_id.isin keeps PARTITION PRUNING on the scan (a
        # semi-join against a LocalRelation alone prunes nothing), then
        # the pair semi-join narrows to the exact (centroid, batch)
        # partitions: an untouched batch inside a touched centroid must
        # not be rewritten — dynamic overwrite only touches partitions
        # present in the written frame
        lists.filter(F.col("centroid_id").isin(cids))
        .join(touched_df, part_cols, "semi")
        .join(purge, "neighbor_id", "left_anti")
        # materialize: the dynamic overwrite below writes INTO the path
        # this frame reads from — breaking the file lineage first is what
        # makes the self-overwrite legal (the kept set is purged-lists-
        # sized, bounded by the deletion batch's fan-out)
        .localCheckpoint(eager=True)
    )
    (
        kept.write.partitionBy(*part_cols)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(lists_path)
    )
    survivors = {
        tuple(r[c] for c in part_cols)
        for r in kept.select(*part_cols).distinct().collect()
    }
    for t in touched:
        if t in survivors:
            continue
        # emptied partition: drop its directory (dynamic overwrite leaves
        # absent partitions alone), then the centroid directory itself if
        # no sibling batch survives
        sub = "/".join(f"{c}={v}" for c, v in zip(part_cols, t))
        fs_rmtree(f"{lists_path}/{sub}", spark)
        cid_dir = f"{lists_path}/centroid_id={t[0]}"
        if fs_isdir(cid_dir, spark) and not any(
            e.startswith("__bk=") or e.endswith(".parquet")
            for e in fs_listdir(cid_dir, spark)
        ):
            fs_rmtree(cid_dir, spark)
    return removed


def _require_bk_layout(lists: DataFrame, path: str, cls: str, op: str) -> None:
    """Refuse pre-``__bk`` lists layouts LOUDLY before a write that would
    either corrupt partition discovery (an ``add`` appending at a mixed
    depth) or die with an opaque missing-partition-column error (a
    ``compact`` partitioning by ``__bk``) — the operator should hear
    'rebuild' instead."""
    if "__bk" not in lists.columns:
        raise ValueError(
            f"index at {path!r} uses the pre-batch-subpartition layout "
            f"(no __bk level in lists/); rebuild it with {cls}.build "
            f"before using {op} — writes at the new depth would corrupt "
            "or fail partition discovery"
        )


def _unkeyed_lists_name(lists_path: str) -> str:
    """A fresh ``__bk`` partition value for un-keyed ``IvfIndex.add``:
    max existing u<N> counter + 1 across every centroid directory, so a
    name still live anywhere is never reused (len()-based counting could
    resurrect a name after forget() dropped an earlier batch's partitions
    and collide with a LIVE batch).  Un-keyed add remains the
    caller-owns-at-most-once path; replays WILL double-count."""
    import os
    import re as _re

    from .dirswap import fs_isdir, fs_listdir

    mx = -1
    if fs_isdir(lists_path):
        for cd in fs_listdir(lists_path):
            if not cd.startswith("centroid_id="):
                continue
            full = os.path.join(lists_path, cd)
            if not fs_isdir(full):
                continue
            for d in fs_listdir(full):
                m = _re.fullmatch(r"__bk=u(\d+)", d)
                if m:
                    mx = max(mx, int(m.group(1)))
    return f"u{mx + 1}"


class IvfPqIndex:
    """Persisted IVF-PQ index (FAISS IVF_PQ shape; Jégou et al. 2011
    §V): coarse-quantized inverted lists that store the m-byte PQ codes
    INSTEAD of the raw vectors.

    IVF-flat's partition pruning cuts which files a search opens
    (~nprobe/nlist of the corpus); PQ compression cuts what those files
    WEIGH — stored entries are (neighbor_id, codes) at ~m bytes/vector
    versus 4·dim, so at dim-768 float32 / m=16 the probed-list IO drops
    another ~190×.  Search ranks candidates by ADC lookup without ever
    touching a stored vector; the standard trade is a re-rank of the top
    candidates against raw vectors, which stays partition-pruned too
    (``pq_refine_topk`` composes the ADC shortlist with an exact re-rank
    over ONLY the shortlisted rows — keep a raw IvfIndex alongside when
    refined serving is needed).

    This variant encodes RAW vectors (not residuals): encoding stays
    SQL-expressible/exactly testable, and the coarse quantizer remains
    swappable via retrain()-style rebuilds.  Layout under ``path``:

      lists/centroid_id=<cid>/part-*.parquet   (neighbor_id, pq codes)
      lists/_quantizer/{centroids,codebooks,params}/part-*.parquet
          (coarse quantizer + PQ codebooks + layout params — inside the
          lists swap surface so all four commit in ONE atomic publish;
          pre-r11 plain {path}/{centroids,codebooks,params} sidecars
          stay readable and migrate on the next rewrite)
    """

    def __init__(
        self,
        path: str,
        centroids: list[tuple[int, list[float]]],
        codebooks: list[list[tuple[int, list[float]]]],
        residual: bool = False,
    ) -> None:
        from .dirswap import require_swap_capable

        # same scheme-dispatched maintenance contract as IvfIndex
        # (dirswap swaps, u<N> counters, tombstone dir checks)
        self.path = require_swap_capable(path)
        self.centroids = centroids
        self.codebooks = codebooks
        self.residual = residual

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int = 16,
        m: int = 8,
        k_pq: int = 16,
        train_iters: int = 0,
        pq_iters: int = 0,
        round_to: int = 6,
        residual: bool = False,
    ) -> "IvfPqIndex":
        """``residual=True`` encodes ``x − centroid(x)`` instead of the
        raw vector (the FAISS IVF-PQ default, Jégou 2011 §V.A): residuals
        have lower variance than the vectors themselves when the coarse
        clustering is informative, so the same m×k codebook budget
        quantizes them more finely.  The residual is one broadcast join
        against the nlist-row centroid frame + a zip_with — map-only,
        nothing about the write path changes."""
        spark = corpus.sparkSession
        if train_iters > 0:
            centroids = kmeans_centroids(
                corpus, id_col, vec_col, nlist, iters=train_iters, round_to=round_to
            )
        else:
            centroids = _seed_or_lowest_present(corpus, id_col, vec_col, nlist)
        assigned = assign_centroids(
            _spread(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__cvec"),
                )
            ),
            "__cvec",
            centroids,
            round_to,
        )
        if residual:
            cents_df = small_df(
                spark,
                list(centroids),
                "centroid_id long, __cent array<double>",
                )
            enc_src = assigned.join(F.broadcast(cents_df), "centroid_id").withColumn(
                "__evec",
                F.zip_with(
                    "__cvec", "__cent", lambda a, b: a.cast("double") - b
                ),
            )
        else:
            enc_src = assigned.withColumn("__evec", F.col("__cvec"))
        train_frame = enc_src.select(
            F.col("neighbor_id").alias("vec_id"), F.col("__evec").alias("embedding")
        )
        if pq_iters > 0:
            books = pq_train(train_frame, m=m, k=k_pq, iters=pq_iters,
                             round_to=round_to)
        else:
            books = pq_codebooks(train_frame, m=m, k=k_pq)
        encoded = pq_encode(
            enc_src, books, id_col="neighbor_id", vec_col="__evec",
            round_to=round_to,
        ).select(
            F.col("neighbor_id"),
            F.transform("pq", lambda s: s["code"].cast("int")).alias("codes"),
        )
        from .dirswap import stage_path, swap_in

        live = f"{path}/lists"
        stage = stage_path(live, spark)
        (
            encoded.join(assigned.select("neighbor_id", "centroid_id"), "neighbor_id")
            .withColumn("__bk", F.lit(IvfIndex._BASE_KEY))
            .write.partitionBy("centroid_id", "__bk")
            .mode("overwrite")
            .parquet(stage)
        )
        _write_quantizer(
            spark, stage, centroids, books=books, params=(residual, m, k_pq)
        )
        # one commit publishes lists + quantizer + codebooks + params —
        # and lands in a generation readers resolve even when the surface
        # already carries a pointer (r10 ADVICE findings, both)
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, path)
        return cls(path, list(centroids), books, residual=residual)

    @classmethod
    def load(cls, spark, path: str) -> "IvfPqIndex":
        cents = sorted(
            (r["centroid_id"], list(r["__cent"]))
            for r in _read_sidecar_rows(
                spark, _quant_path(spark, path, "centroids")
            )
        )
        rows = _read_sidecar_rows(spark, _quant_path(spark, path, "codebooks"))
        m = max(r["j"] for r in rows) + 1
        books: list[list] = [[] for _ in range(m)]
        for r in rows:
            books[r["j"]].append((int(r["code"]), [float(x) for x in r["vec"]]))
        try:
            residual = bool(
                _read_sidecar_rows(spark, _quant_path(spark, path, "params"))[
                    0
                ]["residual"]
            )
        except Exception:  # pre-residual layout
            residual = False
        return cls(path, cents, [sorted(b) for b in books], residual=residual)

    def search(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 4,
        round_to: int = 6,
        exact_decimal: bool = False,
    ) -> DataFrame:
        """Probe-pruned ADC search: the scan opens only the probed lists
        (static partition filter), candidates rank by the per-query
        lookup-table fold over stored codes — no raw vector is read.

        Residual indexes compute the lookup tables per (query, probed
        centroid) from ``q − c`` instead of per query — nprobe× more
        table math on the broadcast side (still m×k doubles per probe
        row, driver/broadcast-sized), identical list-side cost.

        ``exact_decimal`` accumulates the ADC fold as DECIMAL (the
        ``pq_topk`` convention) so the served distances are
        bit-identical to the scan scorer's — required when sharing an
        exact oracle with it.

        Driver bound (r12 ADVICE): the probed-id dedup collects the
        |Q|·nprobe probe rows (one int column) to the driver — ``queries``
        must stay broadcast-sized, the same contract the probe-table
        broadcast already imposes; chunk larger query sets."""
        from pyspark.sql import Window

        spark = queries.sparkSession
        m = len(self.codebooks)
        d_sub = len(self.codebooks[0][0][1])
        cents = small_df(
            spark,
            list(self.centroids),
            "centroid_id long, __cent array<double>",
            )
        qvec = F.col(vec_col)

        def _table(j: int, base: Column) -> Column:
            sub = F.transform(
                F.slice(base, j * d_sub + 1, d_sub), lambda x: x.cast("double")
            )
            return F.transform(
                _cent_literal(self.codebooks[j]),
                lambda c: F.round(l2sq(sub, c["vec"]), round_to),
            )

        q = queries.select(
            F.col(id_col).alias("query_id"), qvec.alias("__qvec")
        )
        q_d2 = F.round(l2sq(F.col("__qvec"), F.col("__cent")), round_to)
        w_q = Window.partitionBy("query_id").orderBy("__d2", "centroid_id")
        probe_base = (
            q.crossJoin(F.broadcast(cents))
            .withColumn("__d2", q_d2)
            .withColumn("__r", F.row_number().over(w_q))
            .filter(F.col("__r") <= nprobe)
        )
        if self.residual:
            tab_base = F.zip_with(
                "__qvec", "__cent", lambda a, b: a.cast("double") - b
            )
        else:
            tab_base = F.col("__qvec")
        q_probe = probe_base.select(
            "query_id",
            F.array(*[_table(j, tab_base) for j in range(m)]).alias("__tabs"),
            "centroid_id",
            # |Q|·nprobe rows with m×k lookup tables, consumed TWICE (the
            # probed-list union and the broadcast join) — materialize once
            # instead of re-running the query scan + probe window + table
            # math per consumer
        ).localCheckpoint(eager=True)
        probed = sorted(
            # |Q|·nprobe rows: dedup DRIVER-side — a distinct() here paid
            # an exchange plus its AQE stage jobs on a control-plane-sized
            # checkpointed frame (r12, guide §5)
            {r.centroid_id for r in q_probe.select("centroid_id").collect()}
        )
        lists = spark.read.parquet(self._lists_dir(spark)).filter(
            F.col("centroid_id").isin(probed)
        )
        if exact_decimal:
            # order-independent ADC (the pq_topk convention): the table
            # entries are already rounded, so a DECIMAL accumulation is
            # bit-identical across engines/plans — what an exact oracle
            # shared with the scan scorer needs
            adc = F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("decimal(28,10)"),
                lambda acc, j: (
                    acc
                    + F.element_at(
                        F.element_at(F.col("__tabs"), j + 1),
                        F.element_at(F.col("codes"), j + 1) + 1,
                    ).cast("decimal(28,10)")
                ).cast("decimal(28,10)"),
                lambda acc: acc.cast("double"),
            )
        else:
            adc = F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("__tabs"), j + 1),
                    F.element_at(F.col("codes"), j + 1) + 1,
                ),
            )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("adc_d2"), F.asc("neighbor_id")
        )
        return (
            lists.join(F.broadcast(q_probe), "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("adc_d2", F.round(adc, round_to))
            .withColumn("nbr_rank", F.row_number().over(w))
            .filter(F.col("nbr_rank") <= k)
            .select("query_id", "neighbor_id", "adc_d2", "nbr_rank")
        )

    def search_refined(
        self,
        queries: DataFrame,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 4,
        candidates: int | None = None,
        round_to: int = 6,
        exact_decimal: bool = False,
    ) -> DataFrame:
        """Index-served two-stage retrieval (the FAISS ``IndexRefineFlat``
        pattern this class's docstring defers to ``pq_refine_topk`` for,
        now first-class on the PERSISTED index): stage 1 is ``search`` —
        probe-pruned ADC over the stored m-byte codes selecting
        ``candidates`` ≥ k per query — and stage 2 re-ranks ONLY those
        rows by exact cosine against ``vectors`` (the raw admitted
        corpus, or a raw ``IvfIndex``'s lists frame).

        Scale shape: stage 1 opens ~nprobe/nlist of the code lists and
        never reads a raw vector; stage 2 broadcasts the |Q|·candidates
        skinny frame against the vector table — a broadcast-hash
        semi-fetch touching full vectors for the shortlist only.  At
        dim-768 float32 / m=16 the probed-list IO is ~190× under raw,
        with the exact final ordering ADC alone cannot give.  Same
        output contract as ``pq_refine_topk`` (query_id, neighbor_id,
        adc_d2, cos, nbr_rank)."""
        from pyspark.sql import Window

        c = candidates if candidates is not None else max(4 * k, 32)
        if c < k:
            raise ValueError(f"candidates={c} < k={k}")
        cand = self.search(
            queries, id_col, vec_col, k=c, nprobe=nprobe,
            round_to=round_to, exact_decimal=exact_decimal,
        ).select("query_id", "neighbor_id", "adc_d2")
        nbr = vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__nv"),
        )
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            nbr.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .withColumn(
                "cos", F.round(cosine(F.col("__qv"), F.col("__nv")), round_to)
            )
            .withColumn("nbr_rank", F.row_number().over(w))
            .filter(F.col("nbr_rank") <= k)
            .select("query_id", "neighbor_id", "adc_d2", "cos", "nbr_rank")
        )

    def _lists(self, spark) -> DataFrame:
        return spark.read.parquet(self._lists_dir(spark))

    def _lists_dir(self, spark) -> str:
        from .dirswap import read_path

        return read_path(f"{self.path}/lists", spark)

    def add(self, batch: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding", round_to: int = 6,
            idempotency_key: str | None = None) -> None:
        """Incremental maintenance under the FROZEN quantizer AND frozen
        codebooks (the IVF-PQ serving pattern): assign, residual-shift if
        the index is residual, encode, land in the lists — cost scales
        with the batch; existing list files untouched.

        ``idempotency_key`` gives the PQ lists the same replay contract
        as ``IvfIndex.add`` (the admission-sink lockstep pattern): the
        batch lands in ``__bk=k-<key>`` subpartitions via dynamic
        overwrite, key reuse for different content is refused by the full
        stored-rows-subset guard (id, codes AND centroid), and forget()'s
        tombstones block a replay from resurrecting purged entries.
        Without a key: append under a fresh ``u<N>`` partition (caller
        owns at-most-once)."""
        spark = batch.sparkSession
        existing = self._lists(spark)
        _require_bk_layout(existing, self.path, "IvfPqIndex", "add()")
        assigned = assign_centroids(
            _spread(
                batch.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__cvec"),
                )
            ),
            "__cvec",
            self.centroids,
            round_to,
        )
        if self.residual:
            cents_df = small_df(
                spark,
                list(self.centroids),
                "centroid_id long, __cent array<double>",
                )
            enc_src = assigned.join(
                F.broadcast(cents_df), "centroid_id"
            ).withColumn(
                "__evec",
                F.zip_with("__cvec", "__cent", lambda a, b: a.cast("double") - b),
            )
        else:
            enc_src = assigned.withColumn("__evec", F.col("__cvec"))
        encoded = pq_encode(
            enc_src, self.codebooks, id_col="neighbor_id", vec_col="__evec",
            round_to=round_to,
        ).select(
            "neighbor_id",
            F.transform("pq", lambda s: s["code"].cast("int")).alias("codes"),
        )
        rows = encoded.join(
            assigned.select("neighbor_id", "centroid_id"), "neighbor_id"
        )
        if idempotency_key is None:
            from .bm25 import _warn_unkeyed_into_keyed_index

            lists_dir = self._lists_dir(spark)
            _warn_unkeyed_into_keyed_index(
                self.path, lists_dir, "centroid_id="
            )
            key = _unkeyed_lists_name(lists_dir)
            (
                rows.withColumn("__bk", F.lit(key))
                .write.partitionBy("centroid_id", "__bk")
                .mode("append")
                .parquet(lists_dir)
            )
            return
        from .bm25 import _safe_index_key, _tombstoned_ids

        key = "k-" + _safe_index_key(idempotency_key)
        dead = _tombstoned_ids(
            spark, f"{self.path}/tombstones", key, "neighbor_id"
        )
        if dead is not None:
            rows = rows.join(F.broadcast(dead), "neighbor_id", "left_anti")
        rows = rows.localCheckpoint(eager=True)
        stored = (
            existing
            .filter(F.col("__bk") == key)
            .select("neighbor_id", "codes", "centroid_id")
        )
        if stored.exceptAll(
            rows.select("neighbor_id", "codes", "centroid_id")
        ).limit(1).count():
            raise ValueError(
                f"idempotency_key {idempotency_key!r} was previously used "
                "for a different batch (stored PQ list rows are not a "
                "subset of this batch's encoding); replaying it would "
                "overwrite unrelated index state — use a run-scoped key"
            )
        (
            rows.withColumn("__bk", F.lit(key))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("centroid_id", "__bk")
            .parquet(self._lists_dir(spark))
        )

    def retrain(
        self,
        spark,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        train_iters: int = 2,
        pq_iters: int = 0,
        round_to: int = 6,
    ) -> "IvfPqIndex":
        """Coarse-quantizer + codebook re-training for the compressed
        index — the drift remediation the frozen ``add()`` path defers,
        completing the maintenance story ``IvfIndex.retrain`` already
        has.  PQ lists store CODES, not vectors, so the caller supplies
        the RAW corpus (normally the admitted corpus the sink
        maintains); every INDEXED id is re-encoded under the new
        quantizer and codebooks with its ``__bk`` riding along, so a
        keyed replay after the retrain still converges and forget
        tombstones keep blocking (the IvfIndex.retrain composition
        contract, test-locked for both classes).  Indexed ids MISSING
        from ``corpus`` abort loudly — they cannot be re-encoded, and
        silently dropping them would un-serve admitted documents (fix
        the corpus/forget mismatch first).  ``m``/``k_pq`` stay fixed
        (they define the stored code layout; changing them is a
        ``build``).  Single-writer: quiesce the sink first.  The new
        quantizer AND codebooks ride inside the staged lists directory,
        so the one verified swap publishes all of them atomically — no
        window where new lists are served under the old quantizer (r10
        ADVICE: the previous in-place sidecar overwrites were
        delete-then-write on object stores)."""
        lists = self._lists(spark)
        _require_bk_layout(lists, self.path, "IvfPqIndex", "retrain()")
        # An id may legally live under MULTIPLE __bk batches (repeated
        # unkeyed or differently-keyed add()), so the id→batch pairs and
        # the id→vector frame are kept SEPARATE: training/assignment/
        # encoding run once per distinct id, and the (id, __bk) pairs
        # join back at the end — joining the multi-batch frame to itself
        # on neighbor_id alone would fan d source rows out to d^3,
        # writing d^2 duplicate codes per batch partition.
        pairs = (
            lists.select("neighbor_id", "__bk")
            .distinct()
            .localCheckpoint(eager=True)
        )
        src = (
            pairs.select("neighbor_id")
            .distinct()
            .join(
                _spread(
                    corpus.select(
                        F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("__cvec"),
                    )
                ),
                "neighbor_id",
                "left",
            )
            .dropDuplicates(["neighbor_id"])
            .localCheckpoint(eager=True)
        )
        if src.filter(F.col("__cvec").isNull()).limit(1).count():
            raise ValueError(
                f"index at {self.path!r} holds vector ids absent from the "
                "supplied corpus; PQ lists store codes, not vectors, so "
                "those rows cannot be re-encoded — forget() them or "
                "supply the full admitted corpus"
            )
        m = len(self.codebooks)
        k_pq = max(len(b) for b in self.codebooks)
        new_cents = kmeans_centroids(
            src, id_col="neighbor_id", vec_col="__cvec",
            nlist=nlist or len(self.centroids), iters=train_iters,
            round_to=round_to,
        )
        assigned = assign_centroids(
            src.select("neighbor_id", "__cvec"), "__cvec", new_cents,
            round_to,
        )
        if self.residual:
            cents_df = small_df(
                spark,
                list(new_cents),
                "centroid_id long, __cent array<double>",
                )
            enc_src = assigned.join(
                F.broadcast(cents_df), "centroid_id"
            ).withColumn(
                "__evec",
                F.zip_with("__cvec", "__cent", lambda a, b: a.cast("double") - b),
            )
        else:
            enc_src = assigned.withColumn("__evec", F.col("__cvec"))
        train_frame = enc_src.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("__evec").alias("embedding"),
        )
        if pq_iters > 0:
            books = pq_train(train_frame, m=m, k=k_pq, iters=pq_iters,
                             round_to=round_to)
        else:
            books = pq_codebooks(train_frame, m=m, k=k_pq)
        encoded = pq_encode(
            enc_src, books, id_col="neighbor_id", vec_col="__evec",
            round_to=round_to,
        ).select(
            "neighbor_id",
            F.transform("pq", lambda s: s["code"].cast("int")).alias("codes"),
        )
        # encoded and assigned are one row per id here (src was deduped
        # above), so this chain is 1×1×|batches-per-id| — each (id, __bk)
        # pair gets exactly one code row
        rows = (
            encoded.join(
                assigned.select("neighbor_id", "centroid_id"), "neighbor_id"
            )
            .join(pairs, "neighbor_id")
        )
        from .dirswap import stage_path, swap_in

        stage = stage_path(f"{self.path}/lists", spark)
        rows.write.partitionBy("centroid_id", "__bk").mode(
            "overwrite"
        ).parquet(stage)
        _write_quantizer(
            spark, stage, new_cents, books=books,
            params=(self.residual, m, k_pq),
        )
        live = f"{self.path}/lists"
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, self.path)
        self.centroids = list(new_cents)
        self.codebooks = books
        return self

    def compact(self, spark, files_per_list: int = 1) -> int:
        """Rebuild accumulated add() batches into ``files_per_list``
        files per (centroid, batch) partition via the verified staged
        swap (same crash contract as IvfIndex.compact / the ledger; the
        ``__bk`` level is preserved so keyed replays stay sound; the
        unchanged quantizer/codebooks/params re-write into the stage so
        they stay inside the swapped directory — also the migration
        path off the legacy plain sidecars)."""
        from .dirswap import stage_path, swap_in

        lists = self._lists(spark)
        _require_bk_layout(lists, self.path, "IvfPqIndex", "compact()")
        stage = stage_path(f"{self.path}/lists", spark)
        (
            lists.repartition(files_per_list * max(len(self.centroids), 1),
                              "centroid_id")
            .write.partitionBy("centroid_id", "__bk")
            .mode("overwrite")
            .parquet(stage)
        )
        _write_quantizer(
            spark, stage, self.centroids, books=self.codebooks,
            params=(
                self.residual,
                len(self.codebooks),
                max(len(b) for b in self.codebooks),
            ),
        )
        n = spark.read.parquet(stage).count()
        live = f"{self.path}/lists"
        swap_in(live, stage, verify=_verify_index_dir(spark))
        _drop_legacy_quantizer(spark, self.path)
        return n

    def forget(self, spark, vec_ids: DataFrame, id_col: str = "vec_id") -> int:
        """Deletion propagation: purge ids from the PQ-coded inverted
        lists — same partition-pruned dynamic-overwrite contract as
        ``IvfIndex.forget`` (untouched partitions stay byte-identical;
        emptied partitions dropped; purged (id, batch) pairs tombstoned
        so a keyed add replay cannot resurrect them).  Returns purged
        entry count."""
        return _ivf_lists_forget(
            spark, self._lists_dir(spark), self._lists(spark), vec_ids,
            id_col, tombstone_dir=f"{self.path}/tombstones",
        )

    def prune_tombstones(
        self, spark, settled_keys=(), include_unreplayable: bool = False
    ) -> int:
        """Tombstone retention (see ``operators.bm25.prune_tombstones``):
        drop forget-tombstones for batch keys that can never replay.
        Run at maintenance cadence beside ``compact``."""
        from .bm25 import prune_tombstones

        return prune_tombstones(
            spark,
            f"{self.path}/tombstones",
            settled_keys,
            include_unreplayable=include_unreplayable,
        )
