"""Generate COVERAGE.md: SURVEY.md §2 operator inventory -> declared
registry queries, implementation modules, and oracle kind.

Run from the repo root:  python tools/gen_coverage.py
"""

from __future__ import annotations

import collections
import os
import sys

# anchor on this file, not cwd, like the sibling generators — run from
# any directory, import the right package and write the repo's COVERAGE.md
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from vector_search_application_spark.plans.registry import REGISTRY  # noqa: E402

# SURVEY.md §2 inventory (id -> short label), plus the §9 scale
# extensions (dedup-*, ann-*, text-*, multimodal, streaming-*).
SURVEY_IDS: dict[str, str] = {
    "S1": "JSON array file scan",
    "S2": "tar.gz JSON scan",
    "S3": "upload-file source",
    "S4": "directory import (full)",
    "S5": "directory import (delta)",
    "S6": "JSON export sink",
    "S7": "import-state checkpoint",
    "S8": "in-memory dataset materialization",
    "T1": "text-column synthesis",
    "T2": "deterministic-id synthesis",
    "T3": "missing-field defaulting",
    "T4": "doc content hash",
    "T5": "document validation / quarantine",
    "E1": "dense passage embed",
    "E2": "BM25 sparse passage embed",
    "E3": "dense query embed + cache",
    "E4": "BM25 query embed",
    "I1": "ANN index build",
    "I2": "scalar INT8 quantization",
    "I3": "sparse (BM25) posting index",
    "I4": "payload keyword index",
    "I5": "optimizer/shard config",
    "I6": "batch upload",
    "Q1": "exact payload match cascade",
    "Q2": "post-hoc equality filter",
    "Q3": "score-threshold predicate",
    "Q4": "get-by-id / scroll pagination / count",
    "V1": "dense top-k",
    "V2": "BM25 sparse top-k",
    "V3": "hybrid dense+sparse",
    "V4": "fusion exact+vector",
    "V5": "search-with-details projection",
    "V6": "filtered-search projection",
    "V7": "compare-all harness",
    "F1": "reciprocal rank fusion",
    "F2": "linear (alpha) fusion",
    "F3": "max-score dedup fusion",
    "F4": "score normalization",
    "F5": "exact-match priority cascade",
    "K1": "sort by score desc",
    "K2": "truncate to k",
    "K3": "engine-side limit pushdown",
    "K4": "first-N preview",
    "M1": "batch upsert",
    "M2": "delete by id list",
    "M3": "cleanup-old (full sync)",
    "M4": "versioned create",
    "M5": "versioned update + archive",
    "M6": "version history fetch",
    "M7": "get specific version",
    "M8": "delete + history purge",
    "M9": "collection reset",
    "C1": "part-number classifier",
    "C2": "query cleanup (strip/upper)",
    "C3": "score->label bucketing",
    "C4": "image-URL normalization",
    "C5": "doc hash (sha256 sorted-key)",
    "agg": "aggregations (count / EMA stats)",
    "dedup-exact": "exact dedup",
    "dedup-minhash": "MinHash + LSH near-dup",
    "dedup-simhash": "SimHash near-dup",
    "dedup-ngram-jaccard": "n-gram Jaccard dedup",
    "dedup-embedding": "embedding-cosine near-dup",
    "dedup-incremental": "incremental batch-vs-corpus near-dup",
    "dedup-substring": "exact-substring span dedup (suffix-array semantics)",
    "dedup-cap": "LSH bucket occupancy cap (star fallback + stats)",
    "ann-ivf": "IVF-pruned ANN",
    "ann-lsh": "hyperplane LSH ANN",
    "ann-mllib": "MLlib BucketedRandomProjectionLSH",
    "text-langid": "language-ID heuristic",
    "text-quality": "quality scoring",
    "text-tokens": "token counting",
    "text-fingerprint": "document fingerprint",
    "multimodal": "binary media columns + features",
    "streaming-window": "watermarked windowed rollup",
    "streaming-ingest": "checkpointed streaming upsert",
    # further extension ids (previously the "unlisted ids" footnote —
    # emitted as table rows so the extension surface is auditable the
    # same way §2 is)
    "ann-pq": "product quantization (ADC scan)",
    "ann-ivfpq": "IVF-PQ composition",
    "asof-join": "as-of (nearest-earlier) join",
    "dedup-components": "dup-pair connected components",
    "dedup-semantic": "SemDeDup cluster-blocked cosine dedup",
    "dedup-pipeline": "composed exact-first dedup pipeline",
    "rerank-mmr": "MMR diversity rerank",
    "pipeline-chunk": "passage chunking (token windows)",
    "pipeline-pack": "training sequence packing",
    "pipeline-split": "hash-bucket dataset split",
    "pipeline-sample": "deterministic sampling",
    "pipeline-mix": "temperature-weighted source mixture",
    "pipeline-order": "epoch shuffle ordering",
    "pipeline-manifest": "training/retrieval manifests",
    "pipeline-card": "source data card",
    "pipeline-stats": "corpus length/token statistics",
    "pipeline-vocab": "vocabulary accounting (top-n, BPE)",
    "pipeline-funnel": "quality filter funnel",
    "pipeline-pii": "PII detection / scrub",
    "pipeline-boilerplate": "boilerplate n-gram detection",
    "pipeline-decontaminate": "eval-set decontamination",
    "§2.7": "relational join core: semi/anti/star joins (§2.7)",
    "§2.10": "string / classification scalar functions (§2.10)",
    "§2.11": "aggregations incl. TPC-H joins (§2.11 family)",
    "§2.12": "window functions (§2.12 family)",
}

# per-id clarifications appended to the coverage cell
NOTES = {
    "S2": "declared via driver-side pre-extract (json_source.import_targz); "
    "the mapInPandas extractor for archive DIRECTORIES stays the cluster "
    "path (read_targz_json, tests/test_sources.py)",
    "E1": "deterministic embedder declared; the real-model mapInPandas "
    "stage is tested in tests/test_embed_udf.py (Python workers)",
    "dedup-components": "one operator, dedup.connected_components: a "
    "driver union-find up to CC_DRIVER_PAIRS pairs, the min-label loop "
    "above; dedup_components_star calls the loop directly",
}


def main() -> None:
    by_id: dict[str, list] = collections.defaultdict(list)
    for d in REGISTRY:
        for sid in filter(None, (d.survey_ids or "").split(",")):
            by_id[sid.strip()].append(d)

    lines = [
        "# SURVEY.md §2 coverage — operator id -> declared query",
        "",
        "Generated by `python tools/gen_coverage.py`; do not edit by hand.",
        f"Registry: {len(REGISTRY)} declared queries, "
        f"{sum(1 for d in REGISTRY if d.sql)} with DuckDB value-hash oracles, "
        f"{sum(1 for d in REGISTRY if not d.sql)} rows-only.",
        "",
        "| Survey id | Operator | Declared queries (oracle) | Implementation |",
        "|---|---|---|---|",
    ]
    for sid, label in SURVEY_IDS.items():
        decls = by_id.get(sid, [])
        if decls:
            qcell = ", ".join(
                f"`{d.name}`" + (" (hash)" if d.sql else " (rows-only)")
                for d in decls
            )
            mods = sorted({d.spark.__module__.split(".")[-1] for d in decls})
            mcell = ", ".join(f"`plans/{m}.py`" for m in mods)
        else:
            qcell = "—"
            mcell = ""
        note = NOTES.get(sid)
        if note:
            qcell = (qcell + " — " if decls else "") + note
        lines.append(f"| {sid} | {label} | {qcell} | {mcell} |")

    extra = sorted(set(by_id) - set(SURVEY_IDS))
    if extra:
        lines += ["", f"Unlisted ids carried by queries: {', '.join(extra)}"]
    lines.append("")
    open(os.path.join(_REPO, "COVERAGE.md"), "w").write("\n".join(lines))
    missing = [
        sid for sid in SURVEY_IDS if sid not in by_id and sid not in NOTES
    ]
    print(f"wrote COVERAGE.md; uncovered-without-note: {missing or 'none'}")


if __name__ == "__main__":
    main()
