"""Operator unit tests with planted ground truth: near-dup recall for
MinHash/SimHash, ANN recall vs brute force, text analysis, T-SQL shims,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_samples_spark.operators.dirswap import read_path
from tests.conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """45 base docs + planted near-duplicates (1-2 word edits) + 1 exact dup."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in base.select("doc_id", "text").collect()]
    # plant near-dups only in long docs: one mutated word in a short doc
    # destroys most of its 3-shingles and is legitimately NOT a near-dup
    long_docs = [(i, t) for i, t in rows if len(t.split()) >= 40][:5]
    planted = []
    for doc_id, text in long_docs:
        words = text.split()
        words[len(words) // 2] = "MUTATED"
        planted.append((10_000 + doc_id, " ".join(words)))  # near dup
    planted.append((20_000, rows[0][1]))  # exact dup
    all_rows = [(i, t) for i, t in rows] + planted
    df = spark.createDataFrame(all_rows, "doc_id long, text string")
    df.planted_ids = [d for d, _ in long_docs]  # type: ignore[attr-defined]
    return df


def test_exact_dedup_finds_planted_duplicate(docs_with_dups):
    from sql_data_warehouse_samples_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs_with_dups, "text", "doc_id")
    dups = out.filter("is_duplicate").collect()
    assert any(r.doc_id == 20_000 for r in dups)
    # near-dups must NOT be exact dups
    assert not any(10_000 <= r.doc_id < 20_000 for r in dups)


def test_minhash_lsh_recall(docs_with_dups):
    from sql_data_warehouse_samples_spark.operators.dedup import minhash_dedup_pairs

    # bands=16 (r=2): collision threshold ≈ 0.25 — high-recall operating
    # point for the 0.5-jaccard planted pairs
    pairs = minhash_dedup_pairs(docs_with_dups, "text", "doc_id", threshold=0.5, bands=16)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(d, 10_000 + d) for d in docs_with_dups.planted_ids}
    # all 5 planted near-dup pairs recovered
    assert planted <= found, f"missing {planted - found}"
    # jaccard values sane
    sims = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs.collect()}
    for p in planted:
        assert 0.5 <= sims[p] <= 1.0


def test_simhash_near_dups(docs_with_dups):
    from sql_data_warehouse_samples_spark.operators.dedup import simhash_dedup_pairs

    pairs = simhash_dedup_pairs(docs_with_dups, "text", "doc_id", max_hamming=10)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(d, 10_000 + d) for d in docs_with_dups.planted_ids}
    assert planted <= found, f"missing {planted - found}"
    hams = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    # exact dup pair → hamming 0
    assert hams.get((0, 20_000)) == 0


def test_lsh_bucket_cap_bounds_mass_duplicates(spark):
    """A mass-duplicate cluster (10k identical docs → one LSH bucket) must
    stay LINEAR: star pairs against the min-id representative, not the
    ~50M-pair C(n,2) blowup of an uncapped pairwise join."""
    from sql_data_warehouse_samples_spark.operators.dedup import minhash_dedup_pairs

    n = 10_000
    text = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    rows = [(i, text) for i in range(n)]
    rows += [(n + i, f"distinct document number {i} about topic {i * 7}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_dedup_pairs(
        df, "text", "doc_id", threshold=0.9, max_bucket=50
    ).collect()
    cluster = [(r.id_a, r.id_b) for r in pairs if r.id_b < n]
    # linear star pairing: every member pairs with representative 0, once
    assert len(cluster) == n - 1
    assert all(a == 0 for a, _ in cluster)
    assert {b for _, b in cluster} == set(range(1, n))
    # identical docs → jaccard 1.0 survives the verify stage
    assert all(r.jaccard_sim == 1.0 for r in pairs if r.id_b < n)


def test_lsh_bucket_cap_preserves_small_buckets(docs_with_dups):
    """Buckets under the cap behave exactly as the uncapped pairwise join."""
    from sql_data_warehouse_samples_spark.operators.dedup import minhash_dedup_pairs

    capped = minhash_dedup_pairs(
        docs_with_dups, "text", "doc_id", threshold=0.5, bands=16, max_bucket=128
    )
    uncapped = minhash_dedup_pairs(
        docs_with_dups, "text", "doc_id", threshold=0.5, bands=16, max_bucket=None
    )
    assert {tuple(r) for r in capped.collect()} == {tuple(r) for r in uncapped.collect()}


def test_ann_recall_vs_brute_force(spark):
    from sql_data_warehouse_samples_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk(e, q, k=5)
    approx = ann_lsh_topk(e, q, k=5, n_planes=4, probe_radius=1)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # random embeddings → weak neighbor structure; multi-probe over 16
    # buckets should still recover a meaningful fraction of true top-5
    assert recall >= 0.25, f"ANN recall too low: {recall}"
    # approx sims must match exact sims where pairs overlap
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_sims:
            assert abs(r.cosine_sim - exact_sims[key]) < 1e-9


def test_language_id_profiles(spark):
    from sql_data_warehouse_samples_spark.operators.text import language_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "le chat et la maison des le les"),
            (3, "der hund und die katze das ein"),
            (4, "el perro y los gatos una las y"),
            (5, "xyzzy plugh qwerty"),
        ],
        "id int, text string",
    )
    out = {r.id: r.lang for r in df.select("id", language_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "de"
    assert out[4] == "es"
    assert out[5] == "und"


def test_quality_score_bounds(spark):
    from sql_data_warehouse_samples_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, "a a a a a a a a"), (2, "rich varied vocabulary with many distinct tokens here")],
        "id int, text string",
    )
    out = {r.id: r.q for r in df.select("id", quality_score("text").alias("q")).collect()}
    assert 0.0 <= out[1] < out[2] <= 1.0


def test_tsql_shims(spark):
    from sql_data_warehouse_samples_spark.functions import tsql

    df = spark.createDataFrame(
        [("hello world", 5, "2020-03-15")], "s string, n int, d string"
    ).withColumn("d", F.col("d").cast("date"))
    row = df.select(
        tsql.quotename("s").alias("qn"),
        tsql.charindex("world", "s").alias("ci"),
        tsql.left("s", 5).alias("l"),
        tsql.right("s", 5).alias("r"),
        tsql.len_(F.lit("abc   ")).alias("len_trailing"),
        tsql.isnull(F.lit(None).cast("int"), 0).alias("coal"),
        tsql.datepart("quarter", "d").alias("q"),
        tsql.dateadd("month", 1, "d").alias("dm"),
        tsql.datediff("day", F.lit("2020-03-10").cast("date"), "d").alias("dd"),
        tsql.eomonth("d").alias("eom"),
        tsql.iif(F.col("n") > 3, F.lit("big"), F.lit("small")).alias("ii"),
        tsql.choose(F.lit(2), "a", "b", "c").alias("ch"),
        tsql.convert("varchar", "d", style=112).alias("conv112"),
    ).collect()[0]
    assert row.qn == "[hello world]"
    assert row.ci == 7
    assert row.l == "hello" and row.r == "world"
    assert row.len_trailing == 3  # T-SQL LEN ignores trailing spaces
    assert row.coal == 0
    assert row.q == 1
    assert str(row.dm) == "2020-04-15"
    assert row.dd == 5
    assert str(row.eom) == "2020-03-31"
    assert row.ii == "big"
    assert row.ch == "b"
    assert row.conv112 == "20200315"


def test_tsql_type_map():
    from sql_data_warehouse_samples_spark.functions.tsql import tsql_type_to_spark

    assert tsql_type_to_spark("DECIMAL(18,2)") == "decimal(18,2)"
    assert tsql_type_to_spark("nvarchar(100)") == "string"
    assert tsql_type_to_spark("MONEY") == "decimal(19,4)"
    assert tsql_type_to_spark("bit") == "boolean"
    assert tsql_type_to_spark("datetime2") == "timestamp"


def test_multimodal_header_decode(spark):
    import struct

    from sql_data_warehouse_samples_spark.operators.multimodal import (
        decode_image_meta,
        decode_image_pixels,
        media_table,
    )

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + struct.pack(">II", 640, 480) + b"\x00" * 8
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 16
    df = spark.createDataFrame([(png,), (gif,)], "payload binary")
    media = media_table(df, "payload", kind="image", mime="image/x-test")
    out = {r.format: r for r in decode_image_meta(media).collect()}
    assert out["png"].width == 640 and out["png"].height == 480
    assert out["gif"].width == 320 and out["gif"].height == 200
    # compressed formats still need an injected codec: the built-in
    # decoder raises NotImplementedError at execution time
    with pytest.raises(Exception, match="set_decoder|NotImplemented"):
        decode_image_pixels(media).collect()


def test_frame_sample_plan(spark):
    from sql_data_warehouse_samples_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame([(b"\x00" * 4096,)], "payload binary")
    media = df.select(
        F.lit(1).cast("long").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col("payload"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("string").alias("source_uri"),
    )
    frames = frame_sample_plan(media, every_n=2).collect()
    assert len(frames) >= 2
    assert all(f.frame_index % 2 == 0 for f in frames)


def test_ivf_recall_vs_brute_force(spark):
    from sql_data_warehouse_samples_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk(e, q, k=5)
    approx = ivf_topk(e, q, k=5, nlist=8, nprobe=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing half the lists (4/8) should recover ≥ ~half the true top-5
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    # every corpus vector must land in exactly one inverted list → no dup pairs
    assert approx.groupBy("query_id", "neighbor_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_embedding_neardup_lsh_blocking(spark):
    from sql_data_warehouse_samples_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant a near-identical pair: copy vec 0 with a tiny perturbation
    dup = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
        F.col("label"),
    )
    planted = e.unionByName(dup)
    exact = embedding_neardup_pairs(planted, threshold=0.99)
    blocked = embedding_neardup_pairs(planted, threshold=0.99, blocking="lsh")
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    blocked_pairs = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert (0, 90_000) in exact_pairs
    # near-identical vectors agree on nearly all sign bits → every exact
    # pair at a 0.99 threshold must survive LSH blocking
    assert exact_pairs == blocked_pairs


def test_salted_join_equivalence(spark):
    from sql_data_warehouse_samples_spark.operators.skew import salted_join

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # make a skewed big side: collapse most orderkeys onto one hot key
    big = li.withColumn(
        "jkey",
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(F.col("l_orderkey")),
    )
    small = (
        big.select("jkey").distinct().withColumn("dim_val", F.col("jkey") * 10)
    )
    plain = big.join(small, "jkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dim_val").alias("s")
    ).collect()[0]
    salted = salted_join(big, small, "jkey", salt_buckets=8).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dim_val").alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)
    # the hot key's rows really do spread across salt buckets
    from sql_data_warehouse_samples_spark.operators.skew import salted_join as _sj
    spread = (
        big.withColumn("__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8)))
        .filter(F.col("jkey") == 1)
        .select("__salt").distinct().count()
    )
    assert spread == 8


def test_approx_count_distinct_accuracy(spark):
    """A5 scale note: approx_count_distinct (HyperLogLog++) stays within its
    configured relative error of the exact distinct count — the cardinality
    path that replaces COUNT(DISTINCT) shuffles at 100 TB."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a")
    ).collect()[0].a
    assert abs(approx - exact) / exact < 0.05, (approx, exact)


def test_resize_images_plumbing(spark):
    from sql_data_warehouse_samples_spark.operators import multimodal as M

    rows = [(1, b"abcdefgh" * 10), (2, b"xy"), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = M.resize_images(media, 4, 3).collect()
    assert {r.media_id for r in out} == {1, 2, 3}
    for r in out:
        assert len(r.payload) == 12 and (r.width, r.height) == (4, 3)
    by_id = {r.media_id: r.payload for r in out}
    assert by_id[1] == (b"abcdefgh" * 10)[:12]
    assert by_id[2] == b"xy" + b"\0" * 10


def test_audio_header_decode(spark):
    import struct

    from sql_data_warehouse_samples_spark.operators import multimodal as M

    def wav(rate, channels, bits, n_samples):
        data_size = n_samples * channels * (bits // 8)
        hdr = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                     rate * channels * bits // 8,
                                     channels * bits // 8, bits)
        hdr += b"data" + struct.pack("<I", data_size) + b"\0" * data_size
        return hdr

    rows = [
        (1, wav(44100, 2, 16, 44100)),   # 1 second stereo
        (2, wav(16000, 1, 16, 8000)),    # 0.5 second mono
        (3, b"not a wav"),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in M.decode_audio_meta(media).collect()}
    assert (out[1].sample_rate, out[1].channels, out[1].duration_sec) == (44100, 2, 1.0)
    assert (out[2].sample_rate, out[2].duration_sec) == (16000, 0.5)
    assert out[3].sample_rate is None


def test_train_test_split_deterministic_and_partition_stable(spark):
    from sql_data_warehouse_samples_spark.operators.sampling import (
        stratified_sample,
        train_test_split,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = train_test_split(d, "doc_id", seed="v1")
    s2 = train_test_split(d.repartition(13), "doc_id", seed="v1")
    a1 = {(r.doc_id, r.split) for r in s1.select("doc_id", "split").collect()}
    a2 = {(r.doc_id, r.split) for r in s2.select("doc_id", "split").collect()}
    # identical assignment regardless of physical partitioning
    assert a1 == a2
    n = d.count()
    counts = {r.split: r.c for r in s1.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / n > 0.6  # ~0.8 with small-sample slack
    # a different seed reshuffles assignments
    s3 = train_test_split(d, "doc_id", seed="v2")
    a3 = {(r.doc_id, r.split) for r in s3.select("doc_id", "split").collect()}
    assert a1 != a3

    # stratified sampling: deterministic subset, bounded per-stratum rate
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    fr = {lang: 0.5 for lang in langs}
    kept1 = {r.doc_id for r in stratified_sample(d, "doc_id", fr, "lang").collect()}
    kept2 = {r.doc_id for r in stratified_sample(d.repartition(7), "doc_id", fr, "lang").collect()}
    assert kept1 == kept2
    assert 0.2 < len(kept1) / n < 0.8


def test_assign_centroids_broadcast_path_matches_literal(spark):
    """The broadcast-joined fold (large-quantizer path) must produce
    IDENTICAL assignments to the plan-literal fold — same fold, same
    cid-sorted tie semantics."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        assign_centroids,
        seed_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = seed_centroids(e, nlist=16)
    lit_out = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_centroids(e, "embedding", cents).collect()
    }
    bc_out = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_centroids(
            e, "embedding", cents, max_literal_elems=0
        ).collect()
    }
    assert bc_out == lit_out
    assert len(set(lit_out.values())) > 1


def test_assign_centroids_large_quantizer_bounded_plan(spark):
    """nlist=1024 x dim=64 (65,536 elements — over the literal cutoff)
    must complete via the broadcast path with the plan tree staying flat:
    a plan-embedded literal would carry every double through
    parse/optimize."""
    import random

    from sql_data_warehouse_samples_spark.operators.similarity import (
        CENT_LITERAL_MAX_ELEMS,
        assign_centroids,
    )

    rng = random.Random(7)
    dim, nlist = 64, 1024
    assert nlist * dim > CENT_LITERAL_MAX_ELEMS
    cents = [
        (cid, [rng.uniform(-1, 1) for _ in range(dim)]) for cid in range(nlist)
    ]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = assign_centroids(df, "embedding", cents)
    # centroid data travels via broadcast exchange, not the plan tree
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "named_struct" not in plan
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}

    def argmin_py(vec):
        best_cid, best_d2 = -1, float("inf")
        for cid, cv in cents:
            d2 = round(sum((x - y) ** 2 for x, y in zip(vec, cv)), 6)
            if d2 < best_d2:
                best_cid, best_d2 = cid, d2
        return best_cid

    for i, vec in rows:
        assert got[i] == argmin_py(vec)


def test_ivf_kmeans_refinement(spark):
    """Lloyd refinement must reduce quantizer inertia (sum of d2 to the
    assigned centroid) vs the seed quantizer, and ivf_topk output stays a
    valid per-query top-k with exact cosine values."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        _argmin_cid,
        ivf_topk,
        kmeans_centroids,
        l2sq,
        seed_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def inertia(cents):
        best = F.aggregate(
            F.array(*[F.lit(None)]),  # placeholder, replaced below
            F.lit(0.0),
            lambda acc, _: acc,
        )
        # distance to the assigned centroid via a second fold
        from sql_data_warehouse_samples_spark.operators.similarity import (
            _cent_literal,
        )

        def closer(acc, cent):
            d2 = l2sq(F.col("embedding"), cent["vec"])
            return F.least(acc, d2)

        best = F.aggregate(
            _cent_literal(cents), F.lit(float("inf")), closer
        )
        return e.agg(F.sum(best)).collect()[0][0]

    seeds = seed_centroids(e, nlist=8)
    refined = kmeans_centroids(e, nlist=8, iters=2)
    assert len(refined) == 8
    assert inertia(refined) < inertia(seeds)

    out = ivf_topk(e, e.filter("vec_id < 3"), k=4, nlist=8, nprobe=3, train_iters=2)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.nbr_rank)
    assert per_q and all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


# ---------------------------------------------------------------------------
# sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------


def test_pack_sequences_invariants(spark):
    from sql_data_warehouse_samples_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap = 256
    packed = pack_sequences(docs, "doc_id", "text", max_tokens=cap, num_buckets=4)
    rows = packed.collect()

    # every document assigned exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    fills = {}
    for r in rows:
        fills.setdefault((r.bucket, r.bin_id), []).append(r)
    for (_bkt, _bin), members in fills.items():
        total = sum(m.n_tokens for m in members)
        # reported fill is consistent and within capacity unless oversize
        assert all(m.bin_fill == total for m in members)
        if not any(m.oversize for m in members):
            assert total <= cap
        else:
            assert len(members) == 1  # oversize docs pack alone
    # first-fit property: at most ONE non-oversize bin per bucket is ≤ half
    # full (had two been, the later bin's docs would have first-fit into
    # the earlier one)
    by_bucket = {}
    for (bkt, b), members in fills.items():
        if not any(m.oversize for m in members):
            by_bucket.setdefault(bkt, []).append(sum(m.n_tokens for m in members))
    for bkt, totals in by_bucket.items():
        assert sum(1 for t in totals if t <= cap // 2) <= 1, (bkt, totals)
    # deterministic: re-running yields the identical assignment
    again = pack_sequences(
        docs, "doc_id", "text", max_tokens=cap, num_buckets=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# connected components (operators/graph.py)
# ---------------------------------------------------------------------------


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def _cc_check(spark, edges, nodes=None):
    from sql_data_warehouse_samples_spark.operators.graph import (
        connected_components,
    )

    e_df = spark.createDataFrame(
        edges or [(0, 0)], "src: long, dst: long"
    )
    if not edges:  # self-loop placeholder keeps the schema; canon drops it
        e_df = e_df.filter("src <> dst")
    n_df = (
        spark.createDataFrame([(n,) for n in nodes], "id: long")
        if nodes is not None
        else None
    )
    got = {
        r.id: r.component
        for r in connected_components(e_df, nodes=n_df).collect()
    }
    universe = set(nodes) if nodes is not None else {x for e in edges for x in e}
    want = _union_find_components(edges, universe)
    assert got == want


def test_connected_components_chain_and_cliques(spark):
    # a 12-node chain (diameter >> 1 forces multiple star rounds), two
    # cliques, a bridge merging two groups, plus isolated vertices
    chain = [(i, i + 1) for i in range(100, 112)]
    clique_a = [(i, j) for i in range(3) for j in range(i + 1, 3)]
    clique_b = [(i, j) for i in range(20, 24) for j in range(i + 1, 24)]
    bridge = [(2, 23)]
    edges = chain + clique_a + clique_b + bridge
    nodes = list(range(0, 3)) + list(range(20, 24)) + list(range(100, 113)) + [777, 888]
    _cc_check(spark, edges, nodes)


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(42)
    nodes = list(range(60))
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(45)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    _cc_check(spark, edges, nodes)


def test_connected_components_empty_and_dup_edges(spark):
    # duplicate + reversed edges collapse; empty edge set -> all singletons
    _cc_check(spark, [(1, 2), (2, 1), (1, 2)], [1, 2, 3])
    _cc_check(spark, [], [5, 6])


def test_duplicate_clusters_canonical_flag(spark):
    from sql_data_warehouse_samples_spark.operators.graph import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (30, 31)], "id_a: long, id_b: long"
    )
    rows = duplicate_clusters(pairs).collect()
    by_id = {r.id: r for r in rows}
    assert by_id[10].component == 10 and by_id[10].is_canonical
    assert by_id[12].component == 10 and not by_id[12].is_canonical
    assert by_id[30].component == 30 and by_id[30].is_canonical
    assert by_id[31].component == 30 and not by_id[31].is_canonical


def test_content_hash_ledger_two_batches(spark, tmp_path):
    """The ledger persists admitted hashes across ingests: batch 2's
    anti-join sees batch 1's content without re-reading any corpus text,
    and in-batch + cross-batch duplicates both drop."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "ledger"))
    assert led.hashes().count() == 0
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha  beta"), (3, "gamma delta")],
        "doc_id: long, text: string",
    )  # 1 and 2 normalize to the same content
    out1 = led.ingest(b1)
    assert {r.doc_id for r in out1.collect()} == {1, 3}
    assert led.hashes().count() == 2
    b2 = spark.createDataFrame(
        [(10, "ALPHA BETA"), (11, "epsilon zeta"), (12, "epsilon  zeta")],
        "doc_id: long, text: string",
    )  # 10 duplicates ledger content; 11/12 duplicate each other
    out2 = led.ingest(b2)
    assert {r.doc_id for r in out2.collect()} == {11}
    assert led.hashes().count() == 3
    # idempotent re-offer: everything already admitted
    assert led.ingest(b1.union(b2)).count() == 0


def test_ledger_ingest_plan_never_scans_corpus_text(spark, tmp_path):
    """With corpus_hashes supplied, incremental_dedup's corpus side reads
    ONLY the 16-byte hash column — the 100 TB corpus text is never
    rescanned per ingest."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        incremental_dedup,
    )
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "ledger"))
    led.ingest(
        spark.createDataFrame([(1, "seed text")], "doc_id: long, text: string")
    )
    batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fresh = incremental_dedup(batch, corpus_hashes=led.hashes())
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(schemas) == 2  # batch + ledger, nothing else
    assert sum(1 for ln in schemas if "text" in ln) == 1  # only the batch
    assert any("content_hash:string" in ln and "text" not in ln for ln in schemas)


def test_incremental_dedup_requires_one_corpus_side(spark):
    import pytest as _pytest

    from sql_data_warehouse_samples_spark.operators.dedup import (
        incremental_dedup,
    )

    b = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
    with _pytest.raises(ValueError):
        incremental_dedup(b)
    with _pytest.raises(ValueError):
        incremental_dedup(b, corpus=b, corpus_hashes=b.select(F.lit("h").alias("content_hash")))


def test_star_edges_linear_in_group_size(spark):
    """A group of n equal keys must emit exactly n-1 star edges (rep=min id),
    never the n(n-1)/2 a pairwise self-join would — the dup-heavy-corpus
    guarantee behind d09."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.graph import star_edges

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("samehash").alias("h")
    )
    e = star_edges(df, "h", "doc_id")
    assert e.count() == n - 1
    agg = e.agg(
        F.min("id_a").alias("lo"), F.max("id_a").alias("hi"),
        F.countDistinct("id_b").alias("members"),
    ).collect()[0]
    assert agg.lo == 0 and agg.hi == 0  # every edge roots at the group min
    assert agg.members == n - 1


def test_star_edges_same_components_as_pairwise(spark):
    """Star edges and full pairwise edges give identical connected
    components (closure needs connectivity, not the clique)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.graph import (
        connected_components,
        star_edges,
    )

    rows = [(i, f"h{i % 3}") for i in range(12)] + [(100, "solo")]
    df = spark.createDataFrame(rows, "doc_id: long, h: string")
    star = star_edges(df, "h", "doc_id")
    a, b = df.alias("a"), df.alias("b")
    pairwise = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    got_star = {
        (r.id, r.component)
        for r in connected_components(star, "id_a", "id_b", id_col="id").collect()
    }
    got_pair = {
        (r.id, r.component)
        for r in connected_components(pairwise, "id_a", "id_b", id_col="id").collect()
    }
    assert got_star == got_pair


def test_pii_count_and_redact(spark):
    from sql_data_warehouse_samples_spark.operators import text as T

    rows = [
        (1, "write to bob.smith+x@corp.example.org or alice@ex.io today"),
        (2, "call 555-123-4567 or 555 987 6543 from 10.0.0.1"),
        (3, "plain text with no pii at all"),
        (4, "version 1.2.3.4 and 256.1.1.1 still match the naive ipv4 shape"),
    ]
    df = spark.createDataFrame(rows, "id: long, txt: string")
    got = {
        r.id: r
        for r in df.select(
            "id",
            T.pii_count("txt", "email").alias("e"),
            T.pii_count("txt", "phone").alias("p"),
            T.pii_count("txt", "ipv4").alias("i"),
            T.redact_pii("txt").alias("red"),
        ).collect()
    }
    assert (got[1].e, got[1].p, got[1].i) == (2, 0, 0)
    assert got[1].red == "write to <EMAIL> or <EMAIL> today"
    assert (got[2].e, got[2].p, got[2].i) == (0, 2, 1)
    assert got[2].red == "call <PHONE> or <PHONE> from <IP>"
    assert (got[3].e, got[3].p, got[3].i) == (0, 0, 0)
    assert got[3].red == rows[2][1]
    # documented naive-shape behavior: dotted quads match regardless of range
    assert got[4].i == 2


def test_approx_ntile_matches_exact_ntile(spark):
    """Two-pass NTILE (operators/quantiles.py) vs exact single-partition
    NTILE on the q30 input shape: per-row agreement ≥99% (ties and sketch
    error are the only divergence sources) and every bucket populated."""
    from pyspark.sql import Window

    from sql_data_warehouse_samples_spark.operators.quantiles import approx_ntile

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend")
    )
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    exact = per_cust.withColumn("q_exact", F.ntile(4).over(w))
    got = approx_ntile(exact, "spend", 4, descending=True, out="q_approx")
    agree, total = got.select(
        F.sum((F.col("q_exact") == F.col("q_approx")).cast("int")),
        F.count(F.lit(1)),
    ).first()
    assert total > 1000
    assert agree / total >= 0.99
    assert got.select("q_approx").distinct().count() == 4
    # ascending variant agrees with ascending exact NTILE too
    w2 = Window.orderBy(F.asc("spend"), F.asc("o_custkey"))
    exact2 = per_cust.withColumn("q_exact", F.ntile(4).over(w2))
    got2 = approx_ntile(exact2, "spend", 4, out="q_approx")
    agree2, total2 = got2.select(
        F.sum((F.col("q_exact") == F.col("q_approx")).cast("int")),
        F.count(F.lit(1)),
    ).first()
    assert agree2 / total2 >= 0.99


def test_approx_ntile_assignment_plan_is_map_only(spark):
    """The scale path's assignment pass: no WindowExec, no exchange — the
    boundary literals make it a pure map over the input."""
    from sql_data_warehouse_samples_spark.operators.quantiles import approx_ntile

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = approx_ntile(d, "doc_id", 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_mixture_sample_composition_and_stability(spark):
    """Domain-mixture sampling: hits target composition (within keyed-hash
    variance), caps over-quota sources at keep-all, drops unlisted sources,
    and is stable under repartitioning."""
    from sql_data_warehouse_samples_spark.operators.sampling import (
        mixture_rates,
        mixture_sample,
    )

    rows = [(i, f"s{i % 4}") for i in range(4000)]  # 1000 per source
    df = spark.createDataFrame(rows, "id: long, src: string")
    shares = {"s0": 6.0, "s1": 1.0, "s2": 1.0}  # s3 unlisted -> dropped
    got = mixture_sample(df, "id", "src", shares, budget_rows=1600, seed="t")
    by_src = {r.src: r.cnt for r in got.groupBy("src").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert "s3" not in by_src
    # s0 quota = 6/8*1600 = 1200 > 1000 -> capped, kept whole
    assert by_src["s0"] == 1000
    # s1/s2 quota = 200 of 1000 -> rate 0.2; md5 buckets give ~200 ± noise
    assert 140 <= by_src["s1"] <= 260 and 140 <= by_src["s2"] <= 260
    # repartition-stable: identical selected ids regardless of layout
    ids_a = {r.id for r in got.collect()}
    ids_b = {
        r.id
        for r in mixture_sample(
            df.repartition(17, "src"), "id", "src", shares, 1600, seed="t"
        ).collect()
    }
    assert ids_a == ids_b
    # rate math unit cases
    rates = mixture_rates({"a": 10, "b": 0}, {"a": 1.0, "b": 1.0}, 10)
    assert rates == {"a": 0.5}  # zero-count source skipped, no div-by-zero
    with pytest.raises(ValueError):
        mixture_rates({"a": 1}, {"a": 0.0}, 10)


def test_mixture_sample_filter_is_map_only(spark):
    """Stage 2 (the filter over thresholds) adds no shuffle: the plan after
    the counts collect is scan + filter only."""
    from sql_data_warehouse_samples_spark.operators.sampling import mixture_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = mixture_sample(d, "doc_id", "source", {"src0": 1.0, "src1": 1.0}, 20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan


def test_curation_funnel_counts_and_apply(spark):
    """funnel(): per-stage pass + cumulative survivors in one aggregate;
    apply() returns exactly the docs passing every stage; NULL predicate
    counts as fail."""
    from sql_data_warehouse_samples_spark.operators import curate as C

    rows = [
        (1, 20, "en"),   # passes all
        (2, 5, "en"),    # fails len
        (3, 50, None),   # NULL lang -> language stage fails (not NULL-poison)
        (4, 30, "fr"),   # fails language (!= en)
        (5, 15, "en"),   # passes all
    ]
    df = spark.createDataFrame(rows, "id: long, n_tok: int, lang: string")
    stages = [
        C.Stage("len", F.col("n_tok") >= 10),
        C.Stage("lang", F.col("lang") == "en"),
    ]
    got = {r.stage: r for r in C.funnel(df, stages).collect()}
    assert (got["len"].n_pass, got["len"].n_cum) == (4, 4)
    assert got["lang"].n_pass == 3  # ids 1, 2, 5
    assert got["lang"].n_cum == 2   # ids 1, 5 (2 failed len)
    assert got["len"].stage_idx == 1 and got["lang"].stage_idx == 2
    assert {r.id for r in C.apply(df, stages).collect()} == {1, 5}
    ann = C.annotate(df, stages)
    assert [r.keep_all for r in ann.orderBy("id").collect()] == [1, 0, 0, 0, 1]


def test_curation_funnel_single_scan_plan(spark):
    """The funnel is one scan + one reduce: a single parquet scan node and
    a single pair of hash aggregates in the plan, no join, no window."""
    from sql_data_warehouse_samples_spark.operators import curate as C
    from sql_data_warehouse_samples_spark.operators import text as T

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stages = [
        C.Stage("len", T.token_count("text") >= 10),
        C.Stage("quality", T.quality_score("text") >= 0.5),
    ]
    out = C.funnel(d, stages)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_chunk_documents_invariants(spark):
    """Chunking: full coverage (concat of stride-prefixes rebuilds the
    doc), overlap = max_tokens - stride, all chunks <= max_tokens, final
    chunk may be short, map-only plan."""
    from sql_data_warehouse_samples_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "solo")],
        "doc_id: long, text: string",
    )
    out = chunk_documents(df, "text", "doc_id", max_tokens=4, stride=3).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    chunks = [r.chunk_text.split(" ") for r in by_doc[1]]
    assert all(len(c) <= 4 for c in chunks)
    assert all(r.n_chunk_tokens == len(c) for r, c in zip(by_doc[1], chunks))
    # consecutive chunks overlap by max_tokens - stride = 1 token
    for a, b in zip(chunks, chunks[1:]):
        assert a[3:] == b[: len(a[3:])]
    # stride-prefixes reconstruct the document exactly
    rebuilt = [t for c in chunks for t in c[:3]] + chunks[-1][3:]
    assert rebuilt == [f"w{i}" for i in range(10)]
    assert by_doc[2][0].chunk_text == "solo"
    plan = (
        chunk_documents(df, "text", "doc_id", 4, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", 0)


def test_quantize_embeddings_bounds_and_reconstruction(spark):
    """int8 quantization: q in [-127, 127], max element hit exactly, zero
    vector safe, dequantization error <= scale/2 per element."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        quantize_embeddings,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    rows = quantize_embeddings(e).collect()
    assert rows
    for r in rows:
        assert all(-127 <= q <= 127 for q in r.q)
        assert max(abs(q) for q in r.q) == 127  # the max-|x| element saturates
        for x, q in zip(r.embedding, r.q):
            assert abs(float(x) - q * r.q_scale) <= r.q_scale / 2 + 1e-12
    z = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id: long, embedding: array<float>"
    )
    zr = quantize_embeddings(z).collect()[0]
    assert zr.q == [0, 0] and zr.q_scale == 0.0


def test_common_ngrams_boilerplate_detection(spark):
    """Repeated-trigram mining: a planted boilerplate footer shared by many
    docs dominates the ranking; unique text stays below min_doc_freq."""
    from sql_data_warehouse_samples_spark.operators.text import common_ngrams

    footer = "all rights reserved worldwide"
    rows = [(i, f"unique words {i} here plus {footer}") for i in range(20)]
    rows += [(100, "totally unrelated single document text")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = common_ngrams(df, "text", "doc_id", n=3, min_doc_freq=2, top_k=10)
    top = got.collect()
    assert top[0].ngram == "all rights reserved"
    assert top[0].n_occurrences == 20 and top[0].doc_freq == 20
    grams = {r.ngram for r in top}
    assert "rights reserved worldwide" in grams
    assert all("unrelated" not in g for g in grams)  # df=1 filtered out


def test_ivf_index_persist_and_pruned_search(spark, tmp_path):
    """IvfIndex: build-once/search-many equals the one-shot ivf_topk with
    the same quantizer; the search scan is partition-pruned to the probed
    lists; load() round-trips the quantizer."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        ivf_topk,
        seed_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.limit(5)
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(e, path, nlist=8)
    cents = seed_centroids(e, "vec_id", "embedding", 8)
    assert idx.centroids == sorted(cents)

    got = idx.search(queries, k=3, nprobe=2)
    want = ivf_topk(e, queries, k=3, nprobe=2, nlist=8, centroids=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning: the lists scan carries a static PartitionFilters
    # IN-list over centroid_id — the reader never opens unprobed lists
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "centroid_id" in ln and " IN " in ln
    ]
    assert pf, plan
    # loaded index searches identically
    idx2 = IvfIndex.load(spark, path)
    got2 = idx2.search(queries, k=3, nprobe=2)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, got.collect()))


def test_ivf_index_incremental_add(spark, tmp_path):
    """IvfIndex.add: a new batch lands in the lists under the frozen
    quantizer; search then sees both old and new vectors, identical to a
    one-shot ivf_topk over the union with the same centroids."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = e.filter("vec_id < 40")
    new = e.filter("vec_id >= 40 AND vec_id < 50")
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(old, path, nlist=4)
    idx.add(new)
    queries = e.filter("vec_id < 3")
    got = idx.search(queries, k=3, nprobe=2)
    want = ivf_topk(
        old.unionAll(new), queries, k=3, nprobe=2, nlist=4,
        centroids=idx.centroids,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_calibrate_threshold_hits_keep_rate(spark):
    from sql_data_warehouse_samples_spark.operators import curate as C

    df = spark.range(1000).select((F.col("id") / 1000.0).alias("score"))
    t = C.calibrate_threshold(df, "score", 0.25)
    kept = df.filter(F.col("score") >= t).count()
    assert abs(kept - 250) <= 10
    # lower-is-better mirror (e.g. perplexity-style scores)
    t2 = C.calibrate_threshold(df, "score", 0.25, higher_is_better=False)
    kept2 = df.filter(F.col("score") <= t2).count()
    assert abs(kept2 - 250) <= 10
    with pytest.raises(ValueError):
        C.calibrate_threshold(df, "score", 0.0)


def test_mixture_upsampling_composition(spark):
    """Upsampled mixture: a scarce source replicates to ~its quota (copies
    distinguished by copy_idx), plentiful sources downsample; map-only
    after the count aggregate; deterministic across runs."""
    from sql_data_warehouse_samples_spark.operators.sampling import (
        mixture_sample_with_upsampling,
    )

    rows = [(i, "rare" if i < 100 else "common") for i in range(2100)]
    df = spark.createDataFrame(rows, "id: long, src: string")
    # equal target shares, budget 1000 -> rare quota 500 (rate 5.0),
    # common quota 500 of 2000 (rate 0.25)
    got = mixture_sample_with_upsampling(
        df, "id", "src", {"rare": 1.0, "common": 1.0}, 1000, seed="u"
    )
    by_src = {r.src: r.cnt for r in got.groupBy("src").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_src["rare"] == 500  # rate 5.0 exactly -> 5 copies each
    assert 420 <= by_src["common"] <= 580
    # copies are distinct rows: (id, copy_idx) unique, max copy_idx == 5
    rare = got.filter("src = 'rare'")
    assert rare.select("id", "copy_idx").distinct().count() == 500
    assert rare.agg(F.max("copy_idx")).first()[0] == 5
    # deterministic rerun
    again = mixture_sample_with_upsampling(
        df.repartition(13), "id", "src", {"rare": 1.0, "common": 1.0}, 1000, seed="u"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # replication is map-only


def test_new_operator_edge_cases(spark):
    """Degenerate inputs: empty text chunks to one empty chunk; mixture
    with no listed source present returns empty (not an error); funnel of
    zero docs returns zero counts; approx_ntile n=1 is constant."""
    from sql_data_warehouse_samples_spark.operators import curate as C
    from sql_data_warehouse_samples_spark.operators.quantiles import approx_ntile
    from sql_data_warehouse_samples_spark.operators.sampling import mixture_sample
    from sql_data_warehouse_samples_spark.operators.text import chunk_documents

    empty_text = spark.createDataFrame([(1, "")], "doc_id: long, text: string")
    out = chunk_documents(empty_text, "text", "doc_id", 4, 3).collect()
    assert len(out) == 1 and out[0].chunk_idx == 0

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, src: string")
    none = mixture_sample(docs, "id", "src", {"zzz": 1.0}, 10)
    assert none.count() == 0

    stages = [C.Stage("always", F.lit(True))]
    funnel_empty = C.funnel(docs.filter("id < 0"), stages).collect()
    assert funnel_empty[0].n_pass == 0 and funnel_empty[0].n_cum == 0

    one = approx_ntile(docs, "id", 1)
    assert [r.bucket for r in one.collect()] == [1, 1]


def test_substring_dup_pairs_planted(spark):
    """ExactSubstr detection: a 20-token verbatim run shared between two
    otherwise-different docs is caught; short docs and disjoint docs are
    not; a mass-shared gram stays linear (star pairs to the min id)."""
    from sql_data_warehouse_samples_spark.operators.dedup import substring_dup_pairs

    run = " ".join(f"tok{i}" for i in range(20))
    rows = [
        (1, f"prefix one {run} suffix alpha"),
        (2, f"different opening {run} other ending"),
        (3, "entirely unrelated words " + " ".join(f"x{i}" for i in range(20))),
        (4, "short doc"),
    ]
    # 50 docs all sharing the same boilerplate run
    rows += [(100 + i, f"doc {i} variant {run}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = substring_dup_pairs(df, "text", "doc_id", n=20).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (1, 2) in pairs
    # linear, not quadratic: every doc appears via star edges per gram,
    # far fewer than the C(52,2)=1326 clique
    members = {1, 2} | {100 + i for i in range(50)}
    touched = {a for a, _ in pairs} | {b for _, b in pairs}
    assert touched == members
    assert len(pairs) < 120
    assert not any(3 in p or 4 in p for p in pairs)
    # transitive closure: one duplicate cluster over all sharers
    from sql_data_warehouse_samples_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs], "src: long, dst: long"
    )
    comp = connected_components(edges, "src", "dst")
    labels = {r[0]: r[1] for r in comp.collect()}
    assert len({labels[m] for m in members}) == 1


def test_llm_pipeline_end_to_end_composition(spark):
    """The full curation pipeline composed: calibrated quality threshold ->
    funnel filters -> exact dedup -> train/val split -> chunking ->
    sequence packing.  Row-conservation and determinism invariants hold at
    every stage — the integration proof that the operators compose."""
    from sql_data_warehouse_samples_spark.operators import curate as C
    from sql_data_warehouse_samples_spark.operators import text as T
    from sql_data_warehouse_samples_spark.operators.dedup import exact_dedup
    from sql_data_warehouse_samples_spark.operators.packing import pack_sequences
    from sql_data_warehouse_samples_spark.operators.sampling import train_test_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n0 = docs.count()

    # 1. calibrate a quality threshold for ~80% keep, then funnel
    scored = docs.withColumn("q", T.quality_score("text"))
    thresh = C.calibrate_threshold(scored, "q", 0.8)
    stages = [
        C.Stage("quality", F.col("q") >= thresh),
        C.Stage("min_len", T.token_count("text") >= 5),
    ]
    fun = {r.stage: r for r in C.funnel(scored, stages).collect()}
    curated = C.apply(scored, stages)
    n1 = curated.count()
    assert n1 == fun["min_len"].n_cum
    assert 0.6 * n0 <= n1 <= 0.95 * n0

    # 2. exact dedup keeps one representative per content hash
    deduped = exact_dedup(curated, "text", "doc_id").filter(~F.col("is_duplicate"))
    n2 = deduped.count()
    assert n2 <= n1

    # 3. deterministic split partitions exactly
    split = train_test_split(deduped, "doc_id", {"train": 0.9, "val": 0.1})
    by = {r.split: r.c for r in split.groupBy("split").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert sum(by.values()) == n2

    # 4. chunking covers every surviving train doc
    train = split.filter("split = 'train'")
    chunks = T.chunk_documents(train, "text", "doc_id", max_tokens=64, stride=64)
    assert chunks.select("doc_id").distinct().count() == by.get("train", 0)
    # non-overlapping stride => total chunk tokens == total doc tokens
    tot_doc = train.agg(F.sum(T.token_count("text"))).first()[0]
    tot_chunk = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert tot_doc == tot_chunk

    # 5. packing bins every chunk exactly once
    chunk_docs = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"), "chunk_text"
    )
    packed = pack_sequences(chunk_docs, "cid", "chunk_text", max_tokens=128)
    assert packed.count() == chunk_docs.count()


def test_model_filter_scorer_injection_and_passthrough(spark):
    """score_documents: all input columns pass through, the injected
    scorer's values land per-row, batches respect batch_size, and the
    default fake is deterministic."""
    from sql_data_warehouse_samples_spark.operators import model_filter as M

    df = spark.createDataFrame(
        [(i, f"doc number {i}", "en") for i in range(10)],
        "doc_id: long, text: string, lang: string",
    )
    try:
        M.set_scorer(lambda texts: texts.str.len().astype(float))
        got = {r.doc_id: r for r in M.score_documents(df, batch_size=3).collect()}
        assert got[7].model_score == float(len("doc number 7"))
        assert got[7].lang == "en"  # passthrough intact
    finally:
        M.set_scorer(None)
    # default fake: deterministic across runs and partitionings
    a = {r.doc_id: r.model_score for r in M.score_documents(df).collect()}
    b = {
        r.doc_id: r.model_score
        for r in M.score_documents(df.repartition(5)).collect()
    }
    assert a == b and all(0.0 <= v < 1.0 for v in a.values())
    # filter gate keeps exactly the rows over threshold
    kept = M.filter_by_model(df, 0.5)
    assert {r.doc_id for r in kept.collect()} == {
        i for i, v in a.items() if v >= 0.5
    }


def test_ivf_index_build_with_kmeans_refinement(spark, tmp_path):
    """IvfIndex.build(train_iters>0): the Lloyd-refined quantizer persists
    and searches identically to one-shot ivf_topk with the same refined
    centroids."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        ivf_topk,
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivfk")
    idx = IvfIndex.build(e, path, nlist=4, train_iters=2)
    cents = kmeans_centroids(e, "vec_id", "embedding", 4, iters=2)
    assert idx.centroids == sorted(cents)
    q = e.limit(3)
    got = idx.search(q, k=3, nprobe=2)
    want = ivf_topk(e, q, k=3, nprobe=2, nlist=4, centroids=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pair_metrics_precision_recall(spark, docs_with_dups):
    """The tuning harness: LSH candidates vs exact-Jaccard ground truth on
    the planted corpus; order-normalization and the metric math verified
    on a hand-computed case."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        minhash_dedup_pairs,
        pair_metrics,
    )

    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5)], "id_a: long, id_b: long"
    )
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (7, 8)], "id_a: long, id_b: long"
    )
    m = pair_metrics(cand, truth)
    assert (m["n_hit"], m["n_candidates"], m["n_truth"]) == (2, 3, 3)
    assert abs(m["precision"] - 2 / 3) < 1e-12 and abs(m["recall"] - 2 / 3) < 1e-12
    # real harness: planted near-dups recovered with high recall
    pairs = minhash_dedup_pairs(
        docs_with_dups, "text", "doc_id", threshold=0.5, bands=16
    ).select("id_a", "id_b")
    planted = spark.createDataFrame(
        [(d, 10_000 + d) for d in docs_with_dups.planted_ids]
        + [(0, 20_000)],
        "id_a: long, id_b: long",
    )
    m2 = pair_metrics(pairs, planted)
    assert m2["recall"] == 1.0


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py)
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, 100, "p1"),
            (1, 200, "p2"),
            (1, 50, "p0"),   # before any right row
            (2, 100, "p3"),  # key with no right rows at all
        ],
        "k: long, lt: long, pid: string",
    ).select("k", F.timestamp_micros("lt").alias("lt"), "pid")
    right = spark.createDataFrame(
        [
            (1, 90, "v1"),
            (1, 100, "v2"),   # ties lt=100 exactly -> eligible (<=)
            (1, 150, "v3"),
            (3, 10, "vx"),    # key absent on the left
        ],
        "k: long, rt: long, vid: string",
    ).select("k", F.timestamp_micros("rt").alias("rt"), "vid")
    return left, right


def test_asof_join_backward(spark):
    from sql_data_warehouse_samples_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    out = asof_join(left, right, on="k", left_ts="lt", right_ts="rt")
    got = {r["pid"]: r["vid"] for r in out.collect()}
    # p1@100 matches v2@100 (equal ts eligible), p2@200 -> v3@150,
    # p0@50 -> no earlier view, p3 key 2 -> no right rows
    assert got == {"p1": "v2", "p2": "v3", "p0": None, "p3": None}
    assert out.count() == 4  # left-outer: every left row exactly once


def test_asof_join_forward_and_tolerance(spark):
    from sql_data_warehouse_samples_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    fwd = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt", direction="forward"
    )
    got = {r["pid"]: r["vid"] for r in fwd.collect()}
    # earliest right at-or-after: p0@50->v1@90, p1@100->v2@100, p2@200->none
    assert got == {"p0": "v1", "p1": "v2", "p2": None, "p3": None}

    tol = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt",
        tolerance="'0.00002' SECOND",  # 20 µs
    )
    got_tol = {r["pid"]: r["vid"] for r in tol.collect()}
    # p2@200 is 50 µs after v3@150 -> outside tolerance, nulled
    assert got_tol == {"p1": "v2", "p2": None, "p0": None, "p3": None}


def test_asof_join_rejects_overlap_and_bad_direction(spark):
    from sql_data_warehouse_samples_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", left_ts="lt", right_ts="rt",
                  direction="sideways")
    with pytest.raises(ValueError, match="overlapping"):
        asof_join(left, left.withColumnRenamed("k", "k2"),
                  on="k", left_ts="lt", right_ts="lt")


# ---------------------------------------------------------------------------
# semantic dedup (operators/dedup.semantic_dedup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_prunes_planted_neighbor(spark):
    """A vector ≥-threshold close to a LOWER-id cluster member is pruned;
    everything else survives with its cluster id."""
    from sql_data_warehouse_samples_spark.operators.dedup import semantic_dedup

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows = [
        (10, [0.9, 0.1, 0.0]),    # cluster 0
        (11, [0.91, 0.1, 0.0]),   # near-identical to 10 -> pruned
        (12, [0.9, 0.0, 0.4]),    # cluster 0 but dissimilar enough
        (20, [0.1, 0.8, 0.0]),    # cluster 1, alone
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = semantic_dedup(df, cents, threshold=0.999)
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    assert got == {10: 0, 12: 0, 20: 1}


def test_semantic_dedup_star_cap_bounds_cluster(spark):
    """With max_cluster exceeded the cluster degrades to star pairing: all
    near-dups of the min-id representative are still pruned, and the work
    is linear in cluster size (no pairwise blowup)."""
    from sql_data_warehouse_samples_spark.operators.dedup import semantic_dedup

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    # 50 near-identical vectors in cluster 0, ids 100..149 (cosine to the
    # min-id representative stays ≥ 0.99999 across the whole set)
    rows = [(100 + i, [1.0, 0.0001 * i]) for i in range(50)]
    rows.append((500, [0.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = semantic_dedup(df, cents, threshold=0.999, max_cluster=10)
    ids = {r["vec_id"] for r in out.collect()}
    # representative 100 survives, every near-dup of it is pruned, the
    # other cluster is untouched
    assert 100 in ids and 500 in ids
    assert ids.isdisjoint(set(range(101, 150)))


def test_asof_join_matches_naive_reference(spark):
    """Randomized equivalence: the union+window as-of join agrees with the
    naive join+ROW_NUMBER formulation on 400 left rows across 20 keys
    (both directions).  Seeded, so failures reproduce."""
    import random

    from pyspark.sql import Window
    from sql_data_warehouse_samples_spark.operators.asof import asof_join

    rng = random.Random(7)
    lrows = [
        (rng.randrange(20), rng.randrange(10_000), i) for i in range(400)
    ]
    rrows = [
        (rng.randrange(20), rng.randrange(10_000), 1000 + i) for i in range(300)
    ]
    left = spark.createDataFrame(lrows, "k: long, lt_us: long, lid: long").select(
        "k", F.timestamp_micros("lt_us").alias("lt"), "lid"
    )
    right = spark.createDataFrame(rrows, "k: long, rt_us: long, rid: long").select(
        "k", F.timestamp_micros("rt_us").alias("rt"), "rid"
    )
    # de-dup right (k, rt) so the matched rid is well-defined
    right = right.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k", "rt").orderBy(F.desc("rid")))
    ).filter(F.col("rn") == 1).drop("rn")

    for direction, cmp in (("backward", "<="), ("forward", ">=")):
        got = (
            asof_join(left, right, on="k", left_ts="lt", right_ts="rt",
                      direction=direction)
            .select("lid", "rid")
        )
        order = F.desc("rt") if direction == "backward" else F.asc("rt")
        naive = (
            left.join(right, ["k"], "left")
            .filter(F.expr(f"rt IS NULL OR rt {cmp} lt"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("lid").orderBy(order)
                ),
            )
            .filter(F.col("rn") == 1)
            .select("lid", "rid")
        )
        # the naive filter drops unmatched left rows; re-add them as NULL
        naive = left.select("lid").join(naive, "lid", "left")
        assert got.exceptAll(naive).count() == 0
        assert naive.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# interval join (operators/intervals.py)
# ---------------------------------------------------------------------------


def test_interval_join_matches_naive_reference(spark):
    """Randomized equivalence: the bucketed equi-join agrees with the naive
    inequality join — including intervals spanning many buckets, empty
    intervals, and bucket-boundary points.  Seeded for reproducibility."""
    import random

    from sql_data_warehouse_samples_spark.operators.intervals import interval_join

    rng = random.Random(11)
    DAY = 86_400_000_000
    pts = [(i, rng.randrange(0, DAY)) for i in range(300)]
    ivs = []
    for j in range(120):
        s = rng.randrange(0, DAY)
        ln = rng.choice([0, 1, 60, 600, 3600, 50_000]) * 1_000_000
        ivs.append((1000 + j, s, s + ln))
    points = spark.createDataFrame(pts, "pid: long, t_us: long").select(
        "pid", F.timestamp_micros("t_us").alias("pt")
    )
    intervals = spark.createDataFrame(ivs, "iid: long, s_us: long, e_us: long").select(
        "iid",
        F.timestamp_micros("s_us").alias("ivs"),
        F.timestamp_micros("e_us").alias("ive"),
    )
    got = interval_join(
        points, intervals, point_ts="pt", start_ts="ivs", end_ts="ive",
        bucket_seconds=600,
    ).select("pid", "iid")
    naive = (
        points.crossJoin(intervals)
        .filter((F.col("ivs") <= F.col("pt")) & (F.col("pt") < F.col("ive")))
        .select("pid", "iid")
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_interval_join_keyed_and_overlap_guard(spark):
    from sql_data_warehouse_samples_spark.operators.intervals import interval_join

    points = spark.createDataFrame(
        [(1, 100, "a"), (2, 100, "b")], "k: long, t_us: long, tag: string"
    ).select("k", F.timestamp_micros("t_us").alias("pt"), "tag")
    intervals = spark.createDataFrame(
        [(1, 0, 1000, "w1"), (2, 500, 1000, "w2")],
        "k: long, s_us: long, e_us: long, wname: string",
    ).select(
        "k",
        F.timestamp_micros("s_us").alias("ivs"),
        F.timestamp_micros("e_us").alias("ive"),
        "wname",
    )
    out = interval_join(
        points, intervals, point_ts="pt", start_ts="ivs", end_ts="ive",
        on="k", bucket_seconds=1,
    )
    got = {(r["tag"], r["wname"]) for r in out.collect()}
    # key 1's point@100 is inside w1; key 2's point@100 is before w2 starts
    assert got == {("a", "w1")}
    with pytest.raises(ValueError, match="overlapping"):
        interval_join(
            points.withColumnRenamed("tag", "wname"), intervals,
            point_ts="pt", start_ts="ivs", end_ts="ive", on="k",
        )


def test_bigram_lm_scores_hand_computed(spark):
    """Add-α bigram LM on a 2-document corpus, checked against hand-derived
    counts: c(a b)=2, c(b a)=1, c(a c)=1, history counts a=3 b=1, V=2."""
    import math

    from sql_data_warehouse_samples_spark.operators.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}  # <2 tokens -> no bigrams -> absent
    nll_ab = round(-math.log((2 + 0.5) / (3 + 0.5 * 2)), 6)
    nll_ba = round(-math.log((1 + 0.5) / (1 + 0.5 * 2)), 6)
    nll_ac = round(-math.log((1 + 0.5) / (3 + 0.5 * 2)), 6)
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_nll"] - round((2 * nll_ab + nll_ba) / 3, 6)) < 1e-6
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["avg_nll"] - nll_ac) < 1e-6
    # corpus-typical text scores lower nll than rare text
    assert out[1]["avg_nll"] < out[2]["avg_nll"]


# ---------------------------------------------------------------------------
# z-order clustering (operators/zorder.py)
# ---------------------------------------------------------------------------


def _rg_coverage(path, col):
    """Mean (max-min)/global-range of ``col`` across parquet row groups."""
    import glob

    import pyarrow.parquet as pq

    spans, lo, hi = [], None, None
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                if cc.path_in_schema == col:
                    st = cc.statistics
                    spans.append((float(st.min), float(st.max)))
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    rng = float(hi) - float(lo)
    return sum((b - a) for a, b in spans) / (rng * len(spans))


def test_zorder_tightens_rowgroup_stats_on_both_columns(spark, tmp_path):
    """Z-order clustering must bound row-group min/max tiles in EVERY
    participating dimension — the single-column sort leaves the second
    column's stats spanning ~the full range in every row group."""
    from sql_data_warehouse_samples_spark.operators.zorder import zorder_write

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    single = str(tmp_path / "single_sort")
    (
        o.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(single)
    )
    zpath = str(tmp_path / "zorder")
    zorder_write(o, zpath, ["o_custkey", "o_totalprice"], n_files=8)

    # single-column sort: second column unclustered (~full range per group)
    assert _rg_coverage(single, "o_totalprice") > 0.8
    # z-order: BOTH columns tile-bounded
    z_cust = _rg_coverage(zpath, "o_custkey")
    z_price = _rg_coverage(zpath, "o_totalprice")
    assert z_price < 0.6, z_price
    assert z_cust < 0.6, z_cust
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == o.count()


def test_zorder_key_is_deterministic_and_bounded(spark):
    """With explicit boundaries the key is a pure function of the value —
    identical across arbitrary repartitioning (the sketch-derived default
    may shift codes by a bucket between differently-partitioned runs,
    documented; tiles are equivalent either way)."""
    from sql_data_warehouse_samples_spark.operators.zorder import with_zorder

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bounds = {
        "o_custkey": [37.0, 75.0, 112.0],
        "o_totalprice": [125000.0, 250000.0, 375000.0],
    }
    z1 = with_zorder(o, ["o_custkey", "o_totalprice"], bits=2, boundaries=bounds)
    rows = {r["o_orderkey"]: r["__zorder"] for r in z1.collect()}
    z2 = with_zorder(
        o.repartition(7), ["o_custkey", "o_totalprice"], bits=2, boundaries=bounds
    )
    rows2 = {r["o_orderkey"]: r["__zorder"] for r in z2.collect()}
    assert rows == rows2  # physical layout never changes the key
    assert all(0 <= v < (1 << 4) for v in rows.values())  # 2 bits x 2 cols
    assert len(set(rows.values())) > 4  # keys actually spread across tiles


def test_quota_sample_caps_and_repartition_stability(spark):
    from sql_data_warehouse_samples_spark.operators.sampling import quota_sample

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "source", "lang"
    )
    out = quota_sample(d, "doc_id", ["source", "lang"], k=5, seed="s")
    sizes = {
        (r["source"], r["lang"]): r["n"]
        for r in out.groupBy("source", "lang").agg(F.count("*").alias("n")).collect()
    }
    full = {
        (r["source"], r["lang"]): r["n"]
        for r in d.groupBy("source", "lang").agg(F.count("*").alias("n")).collect()
    }
    assert sizes  # non-empty
    for stratum, n in sizes.items():
        assert n == min(5, full[stratum])
    # physical layout never changes the selected set
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in quota_sample(
            d.repartition(13), "doc_id", ["source", "lang"], k=5, seed="s"
        ).collect()
    }
    assert ids1 == ids2


def test_line_dedup_reassembly_roundtrip(spark):
    """With an unreachable threshold nothing drops: reassembly must
    round-trip byte-for-byte, including docs with >10 lines (numeric, not
    lexicographic, position ordering)."""
    from sql_data_warehouse_samples_spark.operators.text import line_dedup

    docs = [
        (1, "\n".join(f"line {i}" for i in range(15))),
        (2, "single"),
        (3, "a\n\nb"),  # empty middle line survives
    ]
    d = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_lines_kept"], r["n_lines_dropped"])
        for r in line_dedup(d, "text", "doc_id", max_occurrences=10**6).collect()
    }
    assert out[1] == (docs[0][1], 15, 0)
    assert out[2] == ("single", 1, 0)
    assert out[3] == ("a\n\nb", 3, 0)


def test_ledger_compact_preserves_hashes_and_shrinks_files(spark, tmp_path):
    import glob

    from sql_data_warehouse_samples_spark.operators.ledger import ContentHashLedger

    led = ContentHashLedger(spark, str(tmp_path / "ledger"))
    b1 = spark.createDataFrame([(1, "aaa"), (2, "bbb")], "doc_id: long, text: string")
    b2 = spark.createDataFrame([(3, "ccc"), (4, "aaa")], "doc_id: long, text: string")
    led.ingest(b1)
    led.ingest(b2)  # "aaa" dropped as already ledgered
    before_hashes = {r["content_hash"] for r in led.hashes().collect()}
    before_files = len(glob.glob(f"{led._live()}/*.parquet"))
    n = led.compact(n_files=1)
    assert n == 3 and len(before_hashes) == 3
    assert {r["content_hash"] for r in led.hashes().collect()} == before_hashes
    assert len(glob.glob(f"{led._live()}/*.parquet")) < before_files
    # ledger still functional after the swap
    b3 = spark.createDataFrame([(5, "bbb"), (6, "ddd")], "doc_id: long, text: string")
    kept = led.ingest(b3).collect()
    assert {r["doc_id"] for r in kept} == {6}


def test_ivf_index_compact_preserves_results(spark, tmp_path):
    from sql_data_warehouse_samples_spark.operators.similarity import IvfIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build(emb.filter(F.col("vec_id") < 150), str(tmp_path / "ivf"), nlist=4)
    idx.add(emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 180)))
    q = emb.filter(F.col("vec_id") < 3)
    before = sorted(
        (r["query_id"], r["nbr_rank"], r["neighbor_id"])
        for r in idx.search(q, k=3, nprobe=4).collect()
    )
    n = idx.compact(spark)
    assert n == 180
    after = sorted(
        (r["query_id"], r["nbr_rank"], r["neighbor_id"])
        for r in idx.search(q, k=3, nprobe=4).collect()
    )
    assert before == after


def test_remove_duplicate_spans_keeps_one_copy(spark):
    """ExactSubstr removal: the shared 5-token run survives only in the
    minimum-id document; surrounding text is untouched; disjoint docs
    round-trip; a fully-duplicated doc empties."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        remove_duplicate_spans,
        substring_dup_pairs,
    )

    # context words are unique per doc so the ONLY shared >=5-token run is
    # the planted one (shared context would legitimately extend the run)
    run = "alpha beta gamma delta epsilon"
    docs = [
        (1, f"intro1 uno {run} coda1 fin1"),
        (2, f"intro2 dos {run} coda2 fin2"),
        (3, "completely different text here"),
        (4, run),  # nothing but the duplicated run
    ]
    d = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in remove_duplicate_spans(d, "text", "doc_id", n=5).collect()
    }
    assert out[1] == (docs[0][1], 9, 0)  # canonical: untouched
    assert out[2] == ("intro2 dos coda2 fin2", 4, 5)
    assert out[3] == (docs[2][1], 4, 0)
    assert out[4] == ("", 0, 5)
    # consistency with the pair finder: docs it pairs are docs spans came out of
    pairs = {
        (r["id_a"], r["id_b"])
        for r in substring_dup_pairs(d, "text", "doc_id", n=5).collect()
    }
    assert pairs == {(1, 2), (1, 4)}


def test_ivf_balance_and_retrain_restores_skewed_lists(spark, tmp_path):
    """Drift remediation: skewed add() batches pile onto few lists;
    balance() exposes it, retrain() rebuilds the quantizer from current
    contents and re-levels the lists, and full-probe search still agrees
    with brute force."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        cosine_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(e, path, nlist=8, train_iters=1)
    # skewed batch: many near-copies of ONE existing vector, new ids
    seed_vec = e.filter("vec_id = 3").select("embedding").first()["embedding"]
    n_base = e.count()
    skew = spark.createDataFrame(
        [(10_000 + i, [float(x) * (1.0 + 0.001 * (i % 3)) for x in seed_vec])
         for i in range(200)],
        "vec_id: long, embedding: array<double>",
    )
    idx.add(skew)
    bal = {r["centroid_id"]: r["n_vectors"] for r in idx.balance(spark).collect()}
    counts = sorted(bal.values())
    assert sum(counts) == n_base + 200
    assert counts[-1] > 3 * counts[len(counts) // 2]  # visibly skewed
    idx.snapshot_balance(spark, tag="post_skew")
    meta = spark.read.parquet(f"{path}/meta/balance")
    assert meta.filter("tag = 'post_skew'").count() == len(bal)

    idx.retrain(spark, train_iters=2)
    bal2 = {r["centroid_id"]: r["n_vectors"] for r in idx.balance(spark).collect()}
    counts2 = sorted(bal2.values())
    assert sum(counts2) == n_base + 200
    # retrain splits the overloaded region: the biggest list shrinks
    assert counts2[-1] < counts[-1]
    # reload round-trips the new quantizer
    idx2 = IvfIndex.load(spark, path)
    assert idx2.centroids == idx.centroids
    # full-probe search == brute force (same candidates, same ranking)
    q = e.filter("vec_id < 2")
    corpus = idx._lists(spark).select(
        F.col("neighbor_id").alias("vec_id"), F.col("__cvec").alias("embedding")
    )
    want = {
        (r["query_id"], r["nbr_rank"]): r["neighbor_id"]
        for r in cosine_topk(corpus, q, k=3).collect()
    }
    got = {
        (r["query_id"], r["nbr_rank"]): r["neighbor_id"]
        for r in idx2.search(q, k=3, nprobe=len(idx2.centroids)).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# product quantization (operators/similarity.pq_*; Jégou et al. 2011)
# ---------------------------------------------------------------------------


def test_pq_encode_seed_identity_and_determinism(spark):
    """Seed vectors ARE codebook entries: each must encode to its own
    dense code with zero reconstruction error in every subspace; codes
    stay in range and the encoding is repartition-stable."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks(e, m=8, k=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    enc = {r["vec_id"]: r["pq"] for r in pq_encode(e, books).collect()}
    for vid in range(16):
        assert [s["code"] for s in enc[vid]] == [vid] * 8
        assert all(s["d2"] == 0.0 for s in enc[vid])
    for vid, pq in enc.items():
        assert len(pq) == 8
        assert all(0 <= s["code"] < 16 for s in pq)
    enc2 = {
        r["vec_id"]: r["pq"]
        for r in pq_encode(e.repartition(7), books).collect()
    }
    assert enc2 == enc


def test_pq_adc_matches_direct_lookup_math(spark):
    """ADC distance must equal the sum of per-subspace query-to-codeword
    distances computed directly from the codebooks (the lookup-table
    contract) — checked bit-for-bit for every (query, neighbor) pair."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        "vec_id < 40"
    )
    books = pq_codebooks(e, m=8, k=16)
    codes = {r["vec_id"]: [s["code"] for s in r["pq"]]
             for r in pq_encode(e, books).collect()}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in e.collect()}
    out = pq_topk(codes=pq_encode(e, books), queries=e.filter("vec_id < 3"),
                  codebooks=books, k=39)

    def expected(qid, nid):
        tot = 0.0
        for j in range(8):
            cw = books[j][codes[nid][j]][1]
            sub_q = vecs[qid][j * 8:(j + 1) * 8]
            tot += round(sum((a - b) ** 2 for a, b in zip(sub_q, cw)), 6)
        return round(tot, 6)

    rows = out.collect()
    assert rows
    for r in rows:
        assert abs(r["adc_d2"] - expected(r["query_id"], r["neighbor_id"])) < 1e-9


def test_pq_train_reduces_error_and_keeps_recall(spark):
    """Per-subspace Lloyd refinement must reduce total reconstruction
    error vs the seed codebooks, and trained-codebook ADC recall@10 vs
    exact L2 stays above a floor (measured 0.35 on sf0.01; random
    embeddings at 32x compression are PQ's worst case)."""
    from pyspark.sql import Window

    from sql_data_warehouse_samples_spark.operators.similarity import (
        l2sq,
        pq_codebooks,
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def total_err(books):
        return (
            pq_encode(e, books)
            .select(F.explode("pq").alias("s"))
            .agg(F.sum("s.d2"))
            .collect()[0][0]
        )

    seed = pq_codebooks(e, m=8, k=16)
    trained = pq_train(e, m=8, k=16, iters=2)
    assert total_err(trained) < total_err(seed)

    q = e.filter("vec_id < 10")
    got = pq_topk(pq_encode(e, trained), q, trained, k=10)
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    qq = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    d2 = F.round(
        l2sq(
            F.transform("qv", lambda x: x.cast("double")),
            F.transform("cv", lambda x: x.cast("double")),
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        c.crossJoin(F.broadcast(qq))
        .filter("query_id != neighbor_id")
        .withColumn("d2", d2)
        .withColumn("r", F.row_number().over(w))
        .filter("r <= 10")
    )
    ex, gt = {}, {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in got.collect():
        gt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(ex[k] & gt[k]) / 10 for k in ex) / len(ex)
    assert recall >= 0.2, recall


def test_ivfpq_full_probe_matches_pq_topk_and_prunes(spark, tmp_path):
    """IVF-PQ: full-probe search must EXACTLY equal the flat ADC ranking
    (same codebooks, same tie-break); partial-probe search partition-
    prunes the lists scan; load() round-trips quantizer + codebooks."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    idx = IvfPqIndex.build(e, path, nlist=8, m=8, k_pq=16)
    q = e.filter("vec_id < 4")

    books = pq_codebooks(e, m=8, k=16)
    want = sorted(
        map(tuple, pq_topk(pq_encode(e, books), q, books, k=3).collect())
    )
    got = sorted(map(tuple, idx.search(q, k=3, nprobe=8).collect()))
    assert got == want

    pruned = idx.search(q, k=3, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in ln and "centroid_id" in ln and " IN " in ln
        for ln in plan.splitlines()
    ), plan
    # stored lists carry codes, never raw vectors
    lists_schema = spark.read.parquet(read_path(f"{path}/lists")).schema.simpleString()
    assert "codes" in lists_schema and "embedding" not in lists_schema

    idx2 = IvfPqIndex.load(spark, path)
    assert idx2.centroids == idx.centroids
    assert idx2.codebooks == idx.codebooks
    got2 = sorted(map(tuple, idx2.search(q, k=3, nprobe=8).collect()))
    assert got2 == want


def test_url_blocklist_filter_and_normalization(spark):
    """URL curation gate (operators/web.py; C4 §2.2 / RefinedWeb §3.1):
    registered-domain blocklist matching catches subdomains and
    multi-label public suffixes; normalization collapses tracking-param/
    case/port/fragment variants; the corpus side never shuffles (the
    blocklist broadcasts)."""
    from sql_data_warehouse_samples_spark.operators.web import (
        filter_url_blocklist,
        normalize_url,
        registered_domain,
        url_host,
    )

    df = spark.createDataFrame(
        [
            (1, "HTTP://WWW.Example.COM:80/path/?utm_source=x&q=1#frag"),
            (2, "https://a.b.evil.co.uk/page"),
            (3, "https://good.org/x/"),
            (4, "not a url"),
            (5, None),
            (6, "https://sub.example.com/y?fbclid=abc"),
            (7, "http://example.com/path?utm_source=x"),
        ],
        "doc_id: long, url: string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            url_host("url").alias("h"),
            normalize_url("url").alias("n"),
            registered_domain(url_host("url")).alias("d"),
        ).collect()
    }
    assert rows[1]["h"] == "www.example.com"
    assert rows[1]["n"] == "http://www.example.com/path/?q=1"  # ? promoted back
    assert rows[1]["d"] == "example.com"
    assert rows[2]["d"] == "evil.co.uk"     # multi-label public suffix
    assert rows[6]["d"] == "example.com"    # subdomain collapses
    assert rows[7]["n"] == "http://example.com/path"  # bare tracking param
    assert rows[4]["h"] is None and rows[5]["n"] is None

    kept = filter_url_blocklist(df, "url", ["Example.COM", "evil.co.uk"])
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]
    kept2 = filter_url_blocklist(
        df, "url", ["example.com"], keep_unparseable=True
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [2, 3, 4, 5]
    # the gate is a broadcast anti-join: the CORPUS side never exchanges
    # (the only hash exchange allowed is the tiny blocklist's distinct)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "__bl_domain" in ln, ln


def test_ivfpq_residual_encoding_exact_adc_and_roundtrip(spark, tmp_path):
    """Residual IVF-PQ (FAISS default): ADC must equal the per-subspace
    distance from (query - centroid) to the stored codeword, checked
    bit-for-bit against direct math; the residual flag round-trips
    through load(); trained-residual recall beats raw encoding on sf0.01
    (0.42 vs 0.35 measured — asserted as a floor)."""
    from sql_data_warehouse_samples_spark.operators.similarity import IvfPqIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        "vec_id < 60"
    )
    path = str(tmp_path / "respq")
    idx = IvfPqIndex.build(e, path, nlist=4, m=8, k_pq=8, residual=True)
    assert idx.residual is True

    lists = {
        r["neighbor_id"]: (r["centroid_id"], list(r["codes"]))
        for r in spark.read.parquet(read_path(f"{path}/lists")).collect()
    }
    cents = dict(idx.centroids)
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in e.collect()}

    def expected(qid, nid):
        cid, codes = lists[nid]
        c = cents[cid]
        tot = 0.0
        for j in range(8):
            w = idx.codebooks[j][codes[j]][1]
            qr = [vecs[qid][j * 8 + t] - c[j * 8 + t] for t in range(8)]
            tot += round(sum((a - b) ** 2 for a, b in zip(qr, w)), 6)
        return round(tot, 6)

    out = idx.search(e.filter("vec_id < 3"), k=59, nprobe=4).collect()
    assert out
    for r in out:
        assert abs(r["adc_d2"] - expected(r["query_id"], r["neighbor_id"])) < 1e-9

    idx2 = IvfPqIndex.load(spark, path)
    assert idx2.residual is True and idx2.codebooks == idx.codebooks
    got2 = sorted(map(tuple, idx2.search(e.filter("vec_id < 3"), k=5, nprobe=4).collect()))
    got1 = sorted(map(tuple, idx.search(e.filter("vec_id < 3"), k=5, nprobe=4).collect()))
    assert got1 == got2


def test_ivfpq_incremental_add_and_compact(spark, tmp_path):
    """IvfPqIndex.add: new batches land under the frozen quantizer AND
    frozen codebooks (residual-shifted when the index is residual);
    compact() rebuilds the accumulated appends with results unchanged."""
    from sql_data_warehouse_samples_spark.operators.similarity import IvfPqIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter("vec_id < 40")
    extra = e.filter("vec_id >= 40 AND vec_id < 50")
    path = str(tmp_path / "ivfpq_add")
    idx = IvfPqIndex.build(base, path, nlist=4, m=8, k_pq=8, residual=True)
    idx.add(extra)
    # the appended vectors are searchable and rank identically to an
    # index built over the union in one shot (same frozen artifacts:
    # seeds come from vec_id < k, present in base)
    q = e.filter("vec_id < 3")
    got = sorted(map(tuple, idx.search(q, k=5, nprobe=4).collect()))
    path2 = str(tmp_path / "ivfpq_all")
    idx_all = IvfPqIndex.build(
        e.filter("vec_id < 50"), path2, nlist=4, m=8, k_pq=8, residual=True
    )
    want = sorted(map(tuple, idx_all.search(q, k=5, nprobe=4).collect()))
    assert got == want
    n = idx.compact(spark)
    assert n == 50
    assert sorted(map(tuple, idx.search(q, k=5, nprobe=4).collect())) == want


# ---------------------------------------------------------------------------
# training shards (operators/shards.py)
# ---------------------------------------------------------------------------


def test_training_shards_partitioned_sorted_and_reshuffled(spark, tmp_path):
    """write_training_shards: every row lands in its assigned shard
    directory sorted by the shuffle hash; a new seed re-orders the corpus;
    nothing is lost or duplicated."""
    from sql_data_warehouse_samples_spark.operators.shards import (
        shard_assign,
        shuffle_hash,
        write_training_shards,
    )

    d = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    path = str(tmp_path / "shards")
    write_training_shards(d, path, "doc_id", 4, seed="ep0")

    back = spark.read.parquet(path)
    assert back.count() == d.count()
    assert back.select("doc_id").distinct().count() == d.count()
    # directory partition value == recomputed assignment, for every row
    mism = back.withColumn(
        "__want", shard_assign(F.col("doc_id"), 4, "ep0")
    ).filter(F.col("shard_id") != F.col("__want"))
    assert mism.count() == 0

    # each shard file is internally sorted by the shuffle hash
    import glob

    files = sorted(glob.glob(f"{path}/shard_id=0/*.parquet"))
    assert files
    one = spark.read.parquet(files[0]).withColumn(
        "h", shuffle_hash(F.col("doc_id"), "ep0")
    )
    hs = [r.h for r in one.collect()]
    assert hs == sorted(hs)

    # epoch reshuffle: a different seed produces a different head-of-shard
    d2 = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    a = {r.shard_id: r.first for r in d2.select(
        shard_assign(F.col("doc_id"), 4, "ep0").alias("shard_id"),
        shuffle_hash(F.col("doc_id"), "ep0").alias("h"), "doc_id",
    ).groupBy("shard_id").agg(F.min_by("doc_id", "h").alias("first")).collect()}
    b = {r.shard_id: r.first for r in d2.select(
        shard_assign(F.col("doc_id"), 4, "ep1").alias("shard_id"),
        shuffle_hash(F.col("doc_id"), "ep1").alias("h"), "doc_id",
    ).groupBy("shard_id").agg(F.min_by("doc_id", "h").alias("first")).collect()}
    assert a != b

    # balance: uniform hash keeps shards within 3x of each other at n=2000
    sizes = [
        r["count"]
        for r in d2.select(shard_assign(F.col("doc_id"), 4, "ep0").alias("s"))
        .groupBy("s").count().collect()
    ]
    assert len(sizes) == 4 and max(sizes) < 3 * min(sizes)


# ---------------------------------------------------------------------------
# HLL corpus profiles (operators/profiles.py)
# ---------------------------------------------------------------------------


def test_token_profile_estimate_bound_and_lossless_merge(spark):
    from sql_data_warehouse_samples_spark.operators.profiles import (
        estimate,
        merge_profiles,
        token_profile,
    )
    from sql_data_warehouse_samples_spark.operators.text import tokens

    d = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    prof = token_profile(d, ["source"])
    est = {r.source: r.approx_distinct_tokens for r in estimate(prof).collect()}
    exact = {
        r.source: r.n
        for r in d.select("source", F.explode(tokens("text")).alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for s, n in exact.items():
        # lg_k=12 => ~1.6% rse; allow 5% (and small-n exactness regions)
        assert abs(est[s] - n) <= max(1, 0.05 * n), (s, est[s], n)

    # union of increment sketches == single full-corpus sketch, exactly
    parts = [
        token_profile(d.filter(F.col("doc_id") % 3 == i), ["source"])
        for i in range(3)
    ]
    merged = estimate(merge_profiles(parts, ["source"])).orderBy("source")
    full = estimate(prof).orderBy("source")
    assert [r.asDict() for r in merged.collect()] == [
        r.asDict() for r in full.collect()
    ]


# ---------------------------------------------------------------------------
# PCA / whitening (operators/pca.py)
# ---------------------------------------------------------------------------


def test_pca_whitening_invariants(spark):
    """Whitened projection: identity covariance; unwhitened: variances
    sorted descending; transform is repartition-stable."""
    import numpy as np

    from sql_data_warehouse_samples_spark.operators.pca import fit_pca

    e = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    model = fit_pca(e, "embedding", k=4, whiten=True)
    P = np.array(
        model.transform(e).select("projected").toPandas()["projected"].tolist()
    )
    cov = np.cov(P.T)
    assert np.abs(np.diag(cov) - 1.0).max() < 0.05
    assert np.abs(cov - np.diag(np.diag(cov))).max() < 0.05

    raw = fit_pca(e, "embedding", k=4, whiten=False)
    R = np.array(
        raw.transform(e).select("projected").toPandas()["projected"].tolist()
    )
    vars_ = R.var(axis=0)
    assert all(vars_[i] >= vars_[i + 1] - 1e-9 for i in range(len(vars_) - 1))

    # map-only transform is stable under physical repartitioning
    again = np.array(
        raw.transform(e.repartition(13))
        .orderBy("vec_id")
        .select("projected")
        .toPandas()["projected"]
        .tolist()
    )
    base = np.array(
        raw.transform(e).orderBy("vec_id").select("projected")
        .toPandas()["projected"].tolist()
    )
    assert np.allclose(again, base)


def test_pca_truncation_error_shrinks_with_k(spark):
    import numpy as np

    from sql_data_warehouse_samples_spark.operators.pca import fit_pca

    e = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    X = np.array(e.select("embedding").toPandas()["embedding"].tolist())
    Xc = X - X.mean(axis=0)
    total = (Xc**2).sum()
    errs = []
    for k in (2, 4, 8):
        m = fit_pca(e, "embedding", k=k)
        P = np.array(
            m.transform(e).select("projected").toPandas()["projected"].tolist()
        )
        errs.append(total - (P**2).sum())  # Parseval: captured energy grows
    assert errs[0] > errs[1] > errs[2]
    assert errs[2] >= -1e-6


# ---------------------------------------------------------------------------
# quality-weighted canonical selection (operators/graph.py)
# ---------------------------------------------------------------------------


def test_canonical_by_score_argmax_and_tiebreak(spark):
    from sql_data_warehouse_samples_spark.operators.graph import canonical_by_score

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.1), (20, 0.0)],
        "id long, score double",
    )
    out = {r.id: r.is_canonical for r in canonical_by_score(clusters, scores).collect()}
    # max score wins; equal scores -> min id; singleton is its own canonical
    assert out == {1: False, 2: True, 3: False, 10: True, 11: False, 20: True}


# ---------------------------------------------------------------------------
# BM25 (operators/bm25.py)
# ---------------------------------------------------------------------------


def test_bm25_exact_tiny_corpus_and_guards(spark):
    """Hand-checkable corpus: a doc with more query-term mass outranks a
    longer diluted one; docs without query terms never appear."""
    import math

    import pytest as _pytest

    from sql_data_warehouse_samples_spark.operators.bm25 import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark join"),
            (2, "spark and a very long document about nothing relevant here"),
            (3, "completely unrelated words only"),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, "spark join", k=10).collect()
    ids = [r.doc_id for r in got]
    assert ids == [1, 2]  # doc 3 has no hits at all
    # manual Okapi check for doc 1 / term 'spark': tf=2, df=2, N=3, dl=3
    avgdl = (3 + 10 + 4) / 3.0
    idf_spark = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    idf_join = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    norm = 1.2 * (1 - 0.75 + 0.75 * 3 / avgdl)
    want1 = idf_spark * (2 * 2.2) / (2 + norm) + idf_join * (1 * 2.2) / (1 + norm)
    assert abs(got[0].bm25 - round(want1, 6)) < 1e-6

    with _pytest.raises(ValueError):
        bm25_topk(docs, "   ")


def test_temperature_shares_flatten_toward_uniform(spark):
    """alpha=1 -> natural shares; alpha=0 -> uniform; alpha=0.5 sits
    between; sampled composition tracks the derived shares."""
    from sql_data_warehouse_samples_spark.operators.sampling import (
        temperature_mixture_sample,
        temperature_shares,
    )

    counts = {"big": 900, "mid": 90, "tiny": 10}
    nat = temperature_shares(counts, 1.0)
    uni = temperature_shares(counts, 0.0)
    mid = temperature_shares(counts, 0.5)
    assert abs(nat["big"] - 0.9) < 1e-12
    assert all(abs(v - 1 / 3) < 1e-12 for v in uni.values())
    assert uni["tiny"] < mid["tiny"] < 1 / 3 or mid["tiny"] > nat["tiny"]
    assert nat["tiny"] < mid["tiny"] < uni["tiny"]

    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "tiny"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = temperature_mixture_sample(df, "doc_id", "source", 0.5, 300, seed="t")
    comp = {r.source: r.n for r in got.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    # tiny domain kept whole (quota >= population), big domain subsampled
    assert comp["tiny"] == 10
    assert comp["big"] < 900


def test_edit_verify_catches_reordered_tokens(spark):
    """Edit distance flags what Jaccard can't distinguish: a token-level
    REORDER (identical token set, jaccard=1.0) scores far from a true
    near-identical edit; planted near-dups survive the gate."""
    from sql_data_warehouse_samples_spark.operators.dedup import edit_verify

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zetas"),  # 1-char edit
            (3, "zeta epsilon delta gamma beta alpha"),   # same tokens, reversed
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.edit_ratio
           for r in edit_verify(pairs, docs, "text", "doc_id", 0.2).collect()}
    assert (1, 2) in out and out[(1, 2)] < 0.05
    assert (1, 3) not in out  # reorder is NOT a verbatim near-dup


def test_select_within_budget_tight_and_best_first(spark):
    from sql_data_warehouse_samples_spark.operators.curate import (
        select_within_budget,
    )

    rows = [(i, round(0.1 + (i % 10) * 0.1, 1), 100 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, q double, w long")
    out = select_within_budget(df, "q", "w", 5000, "doc_id", seed="b")
    got = out.collect()
    total = sum(r.w for r in got)
    assert total <= 5000
    # tight: no unselected row could still fit (prefix semantics — the
    # next row in the global order overflows; all heavier-scored space
    # is exhausted before any lighter-scored row is taken)
    sel = {r.doc_id for r in got}
    min_sel_q = min(r.q for r in got)
    for r in rows:
        if r[0] not in sel and r[1] > min_sel_q:
            raise AssertionError(f"skipped higher-quality doc {r}")
    # determinism across physical layouts
    again = {r.doc_id for r in
             select_within_budget(df.repartition(7), "q", "w", 5000,
                                  "doc_id", seed="b").collect()}
    assert again == sel


def test_select_within_budget_windows_only_boundary_bucket(spark):
    """The global-sort-free claim: any Window in the plan must sit above a
    filter on the boundary bucket, never over the full input."""
    from sql_data_warehouse_samples_spark.operators.curate import (
        select_within_budget,
    )

    rows = [(i, round((i % 10) * 0.1, 1), 10) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, q double, w long")
    out = select_within_budget(df, "q", "w", 500, "doc_id", seed="b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "Window" in plan:
        # the windowed branch filters to ONE bucket value before the sort.
        # Pre-r12 the __b alias constant-folded into the scan as
        # `round(q, 3) = <boundary>`; since the r12 scored-frame cache the
        # filter hits the cached frame as `__b = <boundary>` (same
        # one-bucket semantics, now without recomputing the caller's
        # score column — the r5 null-guard adds isnotnull conjuncts)
        import re

        assert re.search(
            r"Filter .*(round\(q#\d+, 3\) = |\(__b#\d+ = )", plan
        ), plan
    assert sum(r.w for r in out.collect()) <= 500


def test_shard_manifest_verify_flags_tampered_shard(spark, tmp_path):
    """verify_shards: green on an intact export; deleting one shard's file
    flags exactly that shard (count+checksum mismatch), everything else
    stays ok.  The `_shard_manifest` sidecar must be invisible to the data
    read (underscore-prefixed)."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.operators.shards import (
        verify_shards,
        write_shard_manifest,
        write_training_shards,
    )

    d = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    path = str(tmp_path / "export")
    write_training_shards(d, path, "doc_id", 4, seed="ep0")
    write_shard_manifest(d, path, "doc_id", 4, seed="ep0")

    # sidecar not picked up as data
    assert "shard_id" in spark.read.parquet(path).columns
    assert spark.read.parquet(path).count() == d.count()

    res = {r.shard_id: r.ok for r in verify_shards(spark, path, "doc_id", "ep0").collect()}
    assert res and all(res.values())

    victim = sorted(glob.glob(f"{path}/shard_id=2/*.parquet"))[0]
    os.remove(victim)
    res2 = {r.shard_id: r.ok for r in verify_shards(spark, path, "doc_id", "ep0").collect()}
    assert res2[2] is False
    assert all(ok for s, ok in res2.items() if s != 2)


def test_results_independent_of_aqe(spark):
    """Adaptive query execution changes physical plans (broadcast
    conversion, skew splits, partition coalescing) — results must not.
    Run a join-heavy, a window-heavy and a dedup query both ways."""
    from sql_data_warehouse_samples_spark import workload

    workload.load_all()
    names = ["q03_q05_star_battery", "q26_latest_orders_per_customer",
             "d01_dedup_exact", "s09_knn_join", "t16_bpe_pair_counts"]
    conf = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(conf)
    try:
        outs = {}
        for mode in ("true", "false"):
            spark.conf.set(conf, mode)
            for n in names:
                df = workload.QUERIES[n](spark, SMOKE_SF_DIR)
                rows = sorted(
                    tuple(r) for r in df.collect()
                )
                outs.setdefault(n, []).append(rows)
        for n, (a, b) in outs.items():
            assert a == b, f"{n} differs under AQE toggle"
    finally:
        spark.conf.set(conf, prev)


def test_cluster_safe_split_no_cluster_straddles_splits(spark):
    """The leakage invariant itself: every duplicate cluster's members
    carry ONE split; singletons split like a plain keyed split."""
    from sql_data_warehouse_samples_spark.operators.graph import (
        duplicate_clusters,
        star_edges,
    )
    from sql_data_warehouse_samples_spark.operators.sampling import (
        cluster_safe_split,
        train_test_split,
    )

    d = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    # plant exact dups: copy text of docs 0-4 onto ids 1000-1004
    src = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text", "lang", "source",
        "n_chars")
    corpus = d.unionByName(src)
    hashed = corpus.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("h"))
    clusters = duplicate_clusters(star_edges(hashed, "h", "doc_id"),
                                  "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component")
    out = cluster_safe_split(corpus, clusters, "doc_id", seed="s")
    per_cluster = (
        out.join(clusters, "doc_id")
        .groupBy("component")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    # singleton behavior == plain split
    plain = train_test_split(d, "doc_id", seed="s").select("doc_id", "split")
    solo = out.join(clusters, "doc_id", "left_anti").select("doc_id", "split")
    diff = solo.join(plain.withColumnRenamed("split", "p"), "doc_id").filter(
        F.col("split") != F.col("p"))
    assert diff.count() == 0


def test_knn_join_block_matches_broadcast_topk(spark):
    """Exact block mode equals cosine_topk (the proven broadcast path) on
    an ASYMMETRIC 3×5 grid, including null / ragged / non-finite vectors
    (masked out, never crash) — every valid query still gets its full k."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators import similarity as S

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bad = spark.createDataFrame(
        [
            (90001, None),
            (90002, [1.0, 2.0]),
            (90003, [float("nan")] * 64),
        ],
        "vec_id: long, embedding: array<double>",
    )
    clean = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    full = clean.unionByName(bad)
    # bad rows ride the BLOCK input and must be masked (null -> no output,
    # ragged -> no output, NaN -> non-finite sims dropped); the reference
    # answer is the proven broadcast path over the clean frame.  (The
    # broadcast fold itself ranks a NaN vector first — Spark sorts NaN
    # above every double — which is exactly why the kernel masks on
    # finiteness rather than trusting the sort.)
    a = S.knn_join(full, full, k=4, left_blocks=3, right_blocks=5)
    b = S.cosine_topk(clean, clean, k=4)
    aa = {(r.query_id, r.nbr_rank): (r.neighbor_id, r.cosine_sim) for r in a.collect()}
    bb = {(r.query_id, r.nbr_rank): (r.neighbor_id, r.cosine_sim) for r in b.collect()}
    assert not any(q >= 90001 for q, _ in aa)
    assert not any(n >= 90001 for n, _ in aa.values())
    assert aa == bb


def test_knn_join_ivf_recall_vs_exact(spark):
    """IVF mode prunes to same-list pairs: recall@3 vs the exact join must
    clear 0.5 single-probe and improve (or tie) with nprobe=3 — the
    standard recall/cost trade, deterministic given seeded centroids."""
    from sql_data_warehouse_samples_spark.operators import similarity as S

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_join(e, e, k=3).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.knn_join(
                e, e, k=3, mode="ivf", nlist=8, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r3, r8 = recall(1), recall(3), recall(8)
    # the synthetic embeddings are near-random (top-neighbor cosine ~0.3),
    # the hardest case for IVF: single-probe must still beat the 1/nlist
    # random-bucket floor by 2x, recall must rise with nprobe, and probing
    # EVERY list must equal the exact join bit-for-bit (same parity
    # contract as the IVF-PQ full-probe test)
    assert r1 >= 0.25, r1
    assert r3 >= r1, (r1, r3)
    assert r8 == 1.0, r8


def _reference_bpe(word_counts, n_merges, min_count=2, end="</w>"):
    """Textbook BPE trainer (Sennrich et al. 2016, figure 1 style) over a
    word-frequency dict — the independent reference bpe_train must match."""
    vocab = {tuple(list(w) + [end]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0
                ) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        if c < min_count:
            break
        merges.append((l, r, c))
        new_vocab = {}
        for syms, cnt in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + cnt
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    """The distributed trainer's merge SEQUENCE equals the textbook
    single-machine algorithm run on the collected word dict — same
    pairs, same order, same counts — and the trained dict segmentation
    equals apply_bpe's replay."""
    from sql_data_warehouse_samples_spark.operators import bpe as B

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wc = {
        r.word: r.wcount
        for r in B.word_frequencies(d).collect()
    }
    expected = _reference_bpe(wc, 15)
    got, words = B.bpe_train(d, 15)
    assert got == expected

    # replaying the learned merges over raw words reproduces the trained
    # symbol arrays (so apply_bpe segments unseen text consistently)
    wdf = spark.createDataFrame(
        [(w,) for w in list(wc)[:20]], "text string"
    )
    seg = {
        r.text: list(r.bpe_tokens)
        for r in B.apply_bpe(wdf, got).collect()
    }
    trained = {
        r.word: list(r.symbols)
        for r in words.filter(words.word.isin(list(seg))).collect()
    }
    assert seg == trained


def test_bpe_null_and_empty_text(spark):
    from sql_data_warehouse_samples_spark.operators import bpe as B

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "ab ab ab cd")], "doc_id long, text string"
    )
    merges, words = B.bpe_train(d, 5, min_count=2)
    # 'ab</w>' assembles in two merges; 'cd' is hapax -> early stop
    assert [(m[0], m[1]) for m in merges][:2] in (
        [("a", "b"), ("ab", "</w>")],
        [("b", "</w>"), ("a", "b</w>")],
    )
    seg = B.apply_bpe(d, merges)
    rows = {r.doc_id: r.bpe_tokens for r in seg.collect()}
    assert rows[1] is None
    assert rows[2] == []


def test_bpe_merge_table_roundtrip(spark, tmp_path):
    from sql_data_warehouse_samples_spark.operators import bpe as B

    d = spark.createDataFrame(
        [(1, "ab ab abc abc abc")], "doc_id long, text string"
    )
    merges, _ = B.bpe_train(d, 4, min_count=2)
    assert merges
    p = str(tmp_path / "merges")
    B.save_merges(spark, merges, p)
    assert B.load_merges(spark, p) == merges


def test_heavy_hitters_exact_vs_full_aggregate(spark):
    """The two-pass sketch output equals the full-vocabulary aggregate
    exactly (superset guarantee + exact recount), at two thresholds, and
    the support >= min_share misuse raises."""
    import math

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.text import (
        heavy_hitter_tokens,
        tokens,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    total = toks.count()
    full = {
        (r.token, r.n)
        for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    for share in (0.01, 0.05):
        thr = math.ceil(share * total)
        want = {(t, n) for t, n in full if n >= thr}
        got = {
            (r.token, r.n_occurrences)
            for r in heavy_hitter_tokens(d, min_share=share).collect()
        }
        assert got == want, share
    with _pytest.raises(ValueError):
        heavy_hitter_tokens(d, min_share=0.01, support=0.02)
