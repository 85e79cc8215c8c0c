"""Hard-negative mining for retrieval/embedding training data.

Standard contrastive-training practice (DPR, Karpukhin 2020 §4.2;
sentence-transformers mining): for each training query, take the top
LEXICALLY-matching documents that are NOT labeled positives — "hard"
because BM25 thinks they answer the query — and additionally drop
candidates whose embedding is near-identical to a labeled positive
(``sim_ceiling``), the standard false-negative guard: an unlabeled
duplicate of the positive would otherwise be trained AGAINST as a
negative and poison the objective.

Scale shape (100 TB corpus, millions of queries):

* ``mine_hard_negatives_batch`` mines for a query TABLE in ONE corpus
  pass: the batched BM25 scorer (operators/bm25.bm25_topk_batch)
  broadcasts the (query_id, term) list and scores every query off one
  checkpointed scan — a DPR-style million-query run is one scan, never a
  Python loop of per-query passes;
* everything downstream is bounded by |Q|·k_raw candidate rows: the
  positive anti-join and the false-negative cosine check are joins of the
  candidate frame against broadcast (query_id-keyed) positive sets — the
  corpus' embeddings are probed by key (|candidates| + |positives| rows
  fetched), never scanned pairwise.

Float conventions: BM25 scores and cosines round to 6 dp (the engine's
cross-engine determinism rule), ordering always carries an id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _embedding_probe(emb: DataFrame, need_ids: DataFrame) -> DataFrame:
    """The bounded embeddings fetch: SEMI-join the corpus-sized embeddings
    table against the broadcast id set (candidates ∪ positives, both
    bounded).  Factored out so the broadcast-semi shape stays unit-
    plan-locked (tests/test_round9_hardening.py) — inside the miner the
    result is materialized via localCheckpoint, which hides this subplan
    from the final query plan."""
    return emb.join(F.broadcast(need_ids), "__eid", "semi")


def mine_hard_negatives_batch(
    docs: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    embeddings: DataFrame | None = None,
    k: int = 10,
    k_raw: int | None = None,
    sim_ceiling: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    consts: tuple[int, float] | None = None,
) -> DataFrame:
    """Mine up to ``k`` hard negatives PER QUERY for a query table.

    ``queries``: (query_id, query text) rows, query_id unique.
    ``positives``: (query_id, doc_id) labeled-relevant pairs — a query may
    have any number of positives, including none.
    ``embeddings``: optional (id, vector) side for the false-negative
    guard; when given, a candidate whose cosine to ANY of ITS QUERY'S
    positives is ``>= sim_ceiling`` is dropped.  Candidates or positives
    WITHOUT an embedding row are kept (no similarity evidence — the
    lexical signal stands), mirrored by the oracle's LEFT-join semantics.
    A query with no embedded positives keeps all its candidates
    (max_pos_cosine NULL).

    Output: (query_id, doc_id, bm25, lex_rank, max_pos_cosine) — per
    query, the top ``k`` surviving candidates by BM25 rank.  ``lex_rank``
    is the rank in the RAW candidate list (before drops), so a training
    pipeline can see how hard each negative is.

    Cost: ONE corpus scan (inside the checkpointed batched BM25 pass —
    plan-locked: the corpus never appears downstream), then |Q|·k_raw-
    bounded joins.  ``consts``: optional precomputed (n_docs, avgdl)
    passed through to the BM25 scorer.
    """
    from pyspark.sql import Window

    from .bm25 import _require_integral_id, bm25_topk_batch
    from .similarity import cosine

    k_raw = k_raw or 2 * k
    _require_integral_id(positives, query_id_col, "positives query_id")
    pos = F.broadcast(
        positives.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(id_col),
        ).distinct()
    )
    cands = (
        bm25_topk_batch(
            docs,
            queries,
            k=k_raw,
            id_col=id_col,
            text_col=text_col,
            query_id_col=query_id_col,
            query_col=query_col,
            consts=consts,
            # the ranked frame is joined/filtered below and re-ordered at
            # this function's tail — the scorer's presentation sort would
            # be a discarded range-exchange (plus its sampling job)
            ordered=False,
        )
        .join(pos, ["query_id", id_col], "left_anti")
        # materialize the |Q|·k_raw candidate list: BOTH the cosine-guard
        # branch and the final join consume it — without this the whole
        # corpus-sized BM25 pass is planned (and run) twice
        .localCheckpoint(eager=True)
    )
    if embeddings is not None:
        emb = embeddings.select(
            F.col(vec_id_col).alias("__eid"), F.col(vec_col).alias("__evec")
        )
        # ONE embeddings probe serves BOTH sides of the guard: semi-join
        # the corpus-sized table against the union of candidate ids and
        # positive ids (both bounded — |Q|·k_raw and the label count), and
        # materialize the surviving rows.  The positive fetch and the
        # candidate fetch below are then local joins of this bounded
        # frame — the previous form scanned the full embeddings table
        # TWICE (once per broadcast).  A LEFT join can only broadcast its
        # RIGHT side, and the raw embeddings table is corpus-sized, so
        # the semi prefilter is what keeps the candidate fetch broadcast
        # at any corpus size (plan-locked: tests/test_plans.py).
        need_ids = cands.select(F.col(id_col).alias("__eid")).unionByName(
            pos.select(F.col(id_col).alias("__eid"))
        )
        emb_need = _embedding_probe(emb, need_ids).localCheckpoint(eager=True)
        pos_vecs = F.broadcast(
            pos.join(emb_need, pos[id_col] == emb_need["__eid"]).select(
                "query_id", F.col("__evec").alias("__pvec")
            )
        )
        # superset of the candidate ids (it also carries positive-only
        # rows); the left join below keys off the candidate frame, so
        # the extra rows simply never match
        cand_emb = F.broadcast(emb_need)
        # per query: |cands| x |its positives| grid — both sides bounded
        # (k_raw and the label count), embeddings fetched by key, the
        # corpus never scanned pairwise.  ONE pass over the candidate
        # frame: the positives grid joins LEFT (a query with no embedded
        # positives contributes one NULL-__pvec row, so max() is NULL and
        # the candidate is kept — identical to the former inner-join +
        # join-back shape, minus the extra broadcast exchange and the
        # second consumption of the candidate list), and bm25/lex_rank
        # ride the group keys (functionally determined by the pair).
        max_cos = F.max(F.round(cosine(F.col("__evec"), F.col("__pvec")), 6))
        cands = (
            # ONE query_id exchange serves the grid aggregate AND the
            # survivor-rank window below (hashpartitioning(query_id)
            # satisfies both clusterings; the planner would otherwise
            # give the aggregate its exact four-key exchange and
            # re-exchange for the window).  AQE sizes the partition
            # count — no explicit N.
            cands.repartition(F.col("query_id"))
            .join(cand_emb, F.col(id_col) == F.col("__eid"), "left")
            .join(pos_vecs, "query_id", "left")
            .groupBy("query_id", id_col, "bm25", "lex_rank")
            .agg(max_cos.alias("max_pos_cosine"))
            .filter(
                F.coalesce(F.col("max_pos_cosine") < sim_ceiling, F.lit(True))
            )
        )
    else:
        cands = cands.withColumn(
            "max_pos_cosine", F.lit(None).cast("double")
        )
    surv = Window.partitionBy("query_id").orderBy("lex_rank")
    return (
        cands.withColumn("__sr", F.row_number().over(surv))
        .filter(F.col("__sr") <= k)
        .select("query_id", id_col, "bm25", "lex_rank", "max_pos_cosine")
        # deterministic presentation order (k·|Q| rows): the single-query
        # wrapper's documented "top negatives, ranked" contract holds for
        # .collect()[0]-style consumers
        .orderBy("query_id", "lex_rank")
    )


def mine_hard_negatives(
    docs: DataFrame,
    query: str,
    positives: DataFrame,
    embeddings: DataFrame | None = None,
    query_id: int = 0,
    k: int = 10,
    k_raw: int | None = None,
    sim_ceiling: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine up to ``k`` hard negatives for ONE training query — thin
    wrapper over ``mine_hard_negatives_batch`` with a single-row query
    table (``positives``: one column of ``id_col``).  Query sets should
    call the batch form directly: it shares the corpus scan across all
    queries."""
    from ._frames import small_df

    spark = docs.sparkSession
    queries = small_df(
        spark,
        [(int(query_id), query)],
        "query_id: long, query: string",
    )
    pos_pairs = positives.select(
        F.lit(int(query_id)).cast("long").alias("query_id"),
        F.col(id_col),
    )
    return mine_hard_negatives_batch(
        docs,
        queries,
        pos_pairs,
        embeddings=embeddings,
        k=k,
        k_raw=k_raw,
        sim_ceiling=sim_ceiling,
        id_col=id_col,
        text_col=text_col,
        vec_id_col=vec_id_col,
        vec_col=vec_col,
    )
