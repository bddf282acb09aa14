"""Diversity re-ranking: maximal marginal relevance (MMR) over a
distributively-generated candidate set.

The reference returns raw similarity order; production search stacks
re-rank the head for diversity (the reference's dead cross-encoder
config, app/config/config.py:44-48, is the same shaped stage — a
second pass over the top-N only). MMR is the deterministic, model-free
member of that family, so it can be first-class here:

    pick argmax score; then repeatedly pick
    argmax  lam * score(c) - (1 - lam) * max_{s in selected} sim(c, s)

Scale shape: candidate generation (cosine top-N) is the distributed
stage — scan-shaped, TakeOrderedAndProject, no shuffle. The greedy
selection is inherently sequential (each pick depends on all previous
picks), over N rows where N is a re-rank head (tens), NOT the corpus:
O(k*N) driver flops on index-small data, the same driver/executor
split as IVF probe-cell ranking (operators/ann.py). The selected rows
re-enter the engine as a local VALUES relation (P.local_values: no
job, no Python workers), so downstream plans compose normally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import portable as P
from ..plans.constants import K
from .ann import _py_cosine
from .topk import score_against_query, topk

MMR_LAMBDA = 0.7
MMR_CANDIDATES = 50


def mmr_select(
    cands: list[tuple[int, float, list[float]]],
    k: int = K,
    lam: float = MMR_LAMBDA,
) -> list[tuple[int, int, float, float]]:
    """Greedy MMR over (id, score, vec) candidates, already sorted by
    (score desc, id asc). Returns (rank, id, score, mmr) — the first
    pick's mmr is its relevance score by convention. Ties break on id
    ascending, matching every top-k contract in the engine."""
    remaining = list(cands)
    selected: list[tuple[int, int, float, float]] = []
    chosen_vecs: list[list[float]] = []
    while remaining and len(selected) < k:
        best_i, best_key = None, None
        for i, (cid, score, vec) in enumerate(remaining):
            if chosen_vecs:
                max_sim = max(_py_cosine(vec, s) for s in chosen_vecs)
                mmr = P.round_half_up(lam * score - (1.0 - lam) * max_sim)
            else:
                mmr = score
            key = (-mmr, cid)
            if best_key is None or key < best_key:
                best_i, best_key = i, key
        cid, score, vec = remaining.pop(best_i)
        selected.append((len(selected) + 1, cid, score, -best_key[0]))
        chosen_vecs.append(vec)
    return selected


def mmr_rerank(
    vectors: DataFrame,
    query: DataFrame,
    n_candidates: int = MMR_CANDIDATES,
    k: int = K,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed candidate top-N -> driver-side greedy MMR -> local
    VALUES relation (rank, id, score, mmr).

    The picked ids ride back as UNQUOTED integer literals (and the
    empty branch pins BIGINT), so the id column must be integral —
    enforced here with a clear error rather than letting a string id
    (e.g. products' partNumber _id) generate malformed SQL deep in
    plan construction."""
    spark = vectors.sparkSession
    id_type = dict(vectors.dtypes)[id_col]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"mmr_rerank requires an integral id column (got {id_col}:"
            f" {id_type}): picked ids are re-emitted as integer plan"
            " literals — map string ids to a long key (e.g."
            " P.md5_long) before reranking"
        )
    cand_df = topk(
        score_against_query(vectors, query, id_col, vec_col, extra_cols=[vec_col]),
        n_candidates,
        id_col=id_col,
    )
    cands = [
        (r[id_col], float(r["score"]), [float(x) for x in r[vec_col]])
        for r in cand_df.collect()
    ]
    picked = mmr_select(cands, k, lam)
    return P.local_values(
        spark,
        f"rank INT, {id_col} BIGINT, score DOUBLE, mmr DOUBLE",
        [
            f"{rank}, CAST({cid} AS BIGINT), {score!r}D, {mmr!r}D"
            for rank, cid, score, mmr in picked
        ],
    )
