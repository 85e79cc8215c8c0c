"""Distributed connected components for duplicate-cluster resolution.

Pairwise dedup (exact hash groups, MinHash/SimHash/embedding near-dup —
``operators/dedup.py``) yields EDGES; a training-data pipeline needs the
transitive closure: every document labeled with its duplicate-cluster id so
one canonical representative per cluster survives.  A chain A~B~C must
collapse to ONE cluster even though (A, C) was never emitted as a pair.

Algorithm: the alternating large-star/small-star method of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC 2014) — the standard
O(log n)-round formulation for bulk-synchronous engines.  Plain label
propagation needs O(diameter) rounds, which is unbounded on near-dup
chains; the alternating algorithm contracts every component to a star
rooted at its minimum id in O(log^2 n) rounds regardless of shape, each
round being one groupBy-min plus one equi-join (single shuffle pair, no
collect_list — hub adjacency is never materialized on one row).

Reference parity: the reference engine has no graph operator; this backs
the LLM-pipeline dedup mandate (duplicate clusters over near-dup pair
output, SURVEY.md §2.15) the way GraphFrames/GraphX users run it on Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def star_edges(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Equivalence-class edges in star form: ``(id_a, id_b)`` with ``id_a``
    the group minimum and ``id_b`` each other member.

    A group of n rows sharing ``key`` emits n−1 edges instead of the
    n·(n−1)/2 a pairwise self-join produces — same transitive closure
    (connected components only needs the component connected, not the full
    clique), but a 10k-identical-document pile yields 9 999 edges, not
    ~50M.  One groupBy-min plus one equi-join on ``key``, both
    hash-partitioned on ``key``, so AQE coalesces them into a single
    exchange.  This is the only safe way to turn mass-duplicate groups
    into edges at 100 TB.
    """
    reps = df.groupBy(key).agg(F.min(id_col).alias("__rep"))
    return (
        df.join(reps, key)
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (min, max) pairs, self-loops dropped."""
    return (
        e.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        adj.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Point every smaller-or-equal neighbor of u at min(N⁻(u))."""
    down = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = down.groupBy("u").agg(F.min("v").alias("m"))
    return (
        down.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_edge_threshold() -> int:
    """Edge count at or below which the closure finishes DRIVER-SIDE.

    Iterative CC pays ~5-8 Spark jobs per alternating-star round (two
    star transforms' exchanges under AQE + the fingerprint action); once
    the contracted edge set is control-plane-sized, those rounds are pure
    scheduling overhead.  64k edges collect to a few MB — the same driver
    budget as the engine's other bounded collects (centroids, query
    vocabularies) — and a union-find over them is microseconds.  Every
    round CONTRACTS the edge set toward one edge per non-root node, so at
    any corpus scale the tail rounds fall under this threshold and finish
    in one job instead of O(log n) more; a dup-cluster graph whose
    contracted form still exceeds the threshold keeps the distributed
    rounds.  Env-tunable for clusters with bigger driver budgets
    (``SPARK_GRAFT_CC_LOCAL_EDGES``, 0 disables)."""
    import os

    return int(os.environ.get("SPARK_GRAFT_CC_LOCAL_EDGES", "65536"))


def _local_components(rows) -> dict:
    """Union-find (union by min root) over collected (u, v) edges —
    component id = minimum reachable id, exactly the alternating-star
    fixed point."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iterations: int = 50,
) -> DataFrame:
    """Label every node with its component id (the component's minimum id).

    ``edges`` is an undirected pair list; ``nodes`` optionally supplies the
    full vertex set so isolated vertices come back as their own singleton
    component (otherwise only edge endpoints are labeled).  Returns
    ``(id_col, component)``.

    Each round CHECKPOINTS its edge frame — persist alone is not enough for
    an iterative dataflow: the logical plan re-nests per round (each star
    references the previous frame several times), so the Catalyst tree
    grows geometrically and analysis itself OOMs the driver after a few
    rounds.  Reliable ``checkpoint()`` is used when the session has a
    checkpoint dir (the cluster-correct choice: survives executor loss);
    otherwise ``localCheckpoint`` (executor-local blocks) keeps local and
    test runs dependency-free.  Convergence is detected by a
    (count, xxhash64-bit_xor) fingerprint of the canonical edge set: one
    tiny driver action per round, never a collect of the data.
    """

    def _materialize(df: DataFrame) -> DataFrame:
        # LAZY checkpoint: the per-round fingerprint aggregation right below
        # is the action that materializes it, so each round costs ONE Spark
        # job (star transform + checkpoint write + fingerprint), not two.
        if df.sparkSession.sparkContext.getCheckpointDir() is not None:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    from ._frames import small_df

    e = _materialize(
        _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    )
    fp = _fingerprint(e)
    local_cap = _local_edge_threshold()
    labeled = None
    if fp[0] > local_cap:
        for _ in range(max_iterations):
            nxt = _materialize(_canon(_small_star(_large_star(e))))
            nfp = _fingerprint(nxt)
            e = nxt
            if nfp[0] <= local_cap or nfp == fp:
                fp = nfp
                break
            fp = nfp
        else:
            raise RuntimeError(
                f"connected_components did not converge in "
                f"{max_iterations} rounds"
            )
    if 0 < fp[0] <= local_cap:
        # control-plane-sized remainder: one collect (bounded by the
        # threshold) + driver union-find replaces the remaining O(log n)
        # star rounds — identical labels (min reachable id) by
        # construction, only the job count changes.
        utype = e.schema["u"].dataType.simpleString()
        comp = _local_components([(r[0], r[1]) for r in e.collect()])
        labeled = small_df(
            e.sparkSession,
            sorted(comp.items()),
            f"{id_col}: {utype}, component: {utype}",
        )
    if labeled is None:
        # fixed point: every canonical edge is (root, child) with root =
        # the component minimum, so child -> root is the star assignment
        star = e.select(
            F.col("v").alias(id_col), F.col("u").alias("component")
        )
        roots = e.select(F.col("u").alias(id_col)).distinct()
        labeled = star.union(
            roots.select(F.col(id_col), F.col(id_col).alias("component"))
        )
    if nodes is not None:
        all_nodes = nodes.select(F.col(id_col)).distinct()
        labeled = (
            all_nodes.join(labeled, id_col, "left")
            .select(
                id_col,
                F.coalesce("component", F.col(id_col)).alias("component"),
            )
        )
    return labeled.distinct()


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Cluster near-dup pair output: ``(id, component, is_canonical)``.

    The canonical survivor per cluster is the minimum id (== component),
    matching ``exact_dedup``'s min-doc_id keep rule, so downstream keeps
    ``is_canonical`` rows and drops the rest.
    """
    cc = connected_components(pairs, id_a, id_b, nodes=nodes, id_col=id_col)
    return cc.withColumn(
        "is_canonical", (F.col(id_col) == F.col("component")).cast("boolean")
    )


def canonical_by_score(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Re-pick each duplicate cluster's survivor by QUALITY, not min-id.

    ``duplicate_clusters`` keeps the minimum id — fine for exact dups where
    members are byte-identical, but near-dup clusters mix a clean original
    with mangled copies and the keeper should be the best one (the
    keep-best convention in production dedup pipelines, e.g. quality-
    filtered C4/RefinedWeb stages keep the highest-scoring member).

    ``clusters``: (id, component) — ``duplicate_clusters`` output.
    ``scores``:   (id, score) — e.g. operators/text.py quality_score.

    Returns (id, component, score, is_canonical) where exactly one member
    per component is canonical: max score, ties broken by min id (so the
    choice is total-order deterministic).

    Scale: one equi-join on id + one ``max_by`` aggregate keyed by
    component and an equi-join of the winners back on component (the agg's
    own partitioning — AQE sizes or broadcasts it) — no window over the
    full corpus, no per-cluster materialization; a degenerate giant
    cluster costs one combiner-friendly agg, never a row blowup.
    """
    joined = clusters.join(scores.select(id_col, score_col), id_col)
    # winner per component: lexicographic max of (score, -id) — max_by is
    # a map-side-combinable aggregate, unlike a row_number window
    winners = joined.groupBy("component").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("__neg")),
        ).alias("__winner")
    )
    return (
        joined.join(winners, "component")
        .withColumn("is_canonical", (F.col(id_col) == F.col("__winner")).cast("boolean"))
        .drop("__winner")
    )
