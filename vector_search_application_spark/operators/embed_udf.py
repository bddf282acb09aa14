"""Pluggable embedding stage (SURVEY.md §2.3 E1): mapInPandas over
Arrow batches, the Spark shape of the reference's batched parallel
embedding loop (reference scripts/indexing.py:445-512 — batch<=8192,
2 workers -> here: one Arrow batch per task, executors in parallel,
model loaded once per Python worker).

Two backends:
  - "onnx": fastembed's BAAI/bge-small-en-v1.5, the reference's
    production model (reference app/config/config.py:43). Not installed
    in this environment — import-gated; raises a clear error if
    requested without the package.
  - "hash" (default): the deterministic signed-hash projection,
    functions/embedder.hash_embed_py — the Python twin of the JVM/SQL
    embedder (verified in tests/test_embed_udf.py), so the distributed
    plumbing is exercised without the model weights.

Output is posting form (id, dim, comp) — identical schema to the
declarative embedder, so downstream search plans are backend-agnostic.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

from ..functions import portable as P
from ..functions.embedder import hash_embed_py
from ..plans.constants import HASH_EMBED_DIM


def embed_map_in_pandas(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    backend: str = "hash",
    dim: int = HASH_EMBED_DIM,
) -> DataFrame:
    """(id, dim, comp) via Arrow-batched Python workers.

    NOTE: needs a loopback-pinned session in this environment
    (session.get_spark); the declarative embedder is the Python-free
    path used by declared queries.
    """
    if backend not in ("hash", "onnx"):
        raise ValueError(f"unknown embed backend: {backend}")
    if backend == "onnx":
        try:
            import fastembed  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "fastembed/ONNX runtime not available in this environment; "
                "install fastembed to use the production model "
                "(reference scripts/indexing.py:326-340)"
            ) from e

    # NULL ids are unindexable — same exclusion as the declarative
    # embed_postings this stage must stay row-compatible with (a
    # NULL-id doc's postings would pool into one phantom entry in any
    # downstream groupBy('id'))
    narrowed = docs.filter(docs[id_col].isNotNull()).select(
        docs[id_col].alias("id"), docs[text_col].alias("t")
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        if backend == "onnx":
            from fastembed import TextEmbedding

            model = TextEmbedding("BAAI/bge-small-en-v1.5")
        for pdf in batches:
            ids, dims, comps = [], [], []
            if backend == "onnx":
                vecs = model.passage_embed(pdf["t"].fillna("").tolist())
                for i, vec in zip(pdf["id"], vecs):
                    for d, v in enumerate(vec):
                        if v != 0.0:
                            ids.append(i); dims.append(d)
                            comps.append(P.round_half_up(float(v)))
            else:
                for i, text in zip(pdf["id"], pdf["t"]):
                    for d, v in hash_embed_py(text or "", dim).items():
                        ids.append(i); dims.append(d); comps.append(v)
            yield pd.DataFrame({"id": ids, "dim": dims, "comp": comps})

    return narrowed.mapInPandas(run, "id bigint, dim int, comp double")
