"""Ingest sources (SURVEY.md §2.1 S1-S5, §2.2 T1-T5).

Reference ingest is per-file Python loops (json.load, tarfile, glob +
ThreadPool); here each source is a Spark reader so file parallelism,
schema enforcement, and predicate pushdown come from the engine:

  S1/S3  JSON array file           spark.read.option("multiLine").json
  S2     .tar.gz with inner .json  binaryFile scan + mapInPandas tar
                                   extraction (the one genuinely
                                   imperative step; Arrow-batched)
  S4     directory import (full)   glob read + overwrite
  S5     directory import (delta)  glob read + hash-join delta classify
                                   -> only changed rows flow downstream
  T5     validation/quarantine     filter + flag, invalid rows kept in a
                                   quarantine DataFrame (not dropped)
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P
from ..operators import mutations

PRODUCT_FIELDS = [
    "_id",
    "partNumber_airgas_text",
    "manufacturerPartNumber_text",
    "shortDescription_airgas_text",
    "onlinePrice_string",
    "img_270Wx270H_string",
]


def read_json_array(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """S1/S3: list-of-dicts JSON file(s); one task per file.

    Pass ``schema`` (DDL string) whenever it is known: an explicit
    schema skips the inference pass (which reads every file twice) and
    pins types against drift on empty/partial partitions."""
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_targz_json(spark: SparkSession, path: str) -> DataFrame:
    """S2: .tar.gz archives with inner .json members
    (reference scripts/indexing.py:145-281).

    binaryFile scan distributes archives across executors; extraction
    is a mapInPandas stage (needs Python workers — use the loopback
    session configs from session.py). Returns (member_name, json_text)
    rows; parse with from_json + a schema downstream.
    """
    bins = spark.read.format("binaryFile").load(path)

    def extract(batches: Iterator) -> Iterator:
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            out_names, out_texts, out_srcs = [], [], []
            for src, blob in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(blob), mode="r:gz") as tar:
                    for member in tar.getmembers():
                        if member.isfile() and member.name.endswith(".json"):
                            f = tar.extractfile(member)
                            out_names.append(member.name)
                            out_texts.append(f.read().decode("utf-8"))
                            out_srcs.append(src)
            yield pd.DataFrame(
                {"member": out_names, "json_text": out_texts, "archive": out_srcs}
            )

    return bins.select("path", "content").mapInPandas(
        extract, "member string, json_text string, archive string"
    )


def extract_targz(archive_path: str, out_dir: str) -> list[str]:
    """S2 driver-side pre-extract: unpack the inner ``.json`` members of
    one ``.tar.gz`` into ``out_dir`` (reference scripts/indexing.py:145-281
    opens products.tar.gz and parses the inner .json the same way).

    This is the JVM-only import path — after extraction the scan is a
    plain distributed ``spark.read.json``; no Python workers in the
    query plan. For a *directory* of archives on a real cluster, use
    ``read_targz_json`` (binaryFile + mapInPandas) instead."""
    import shutil
    import tarfile

    # a fresh dir per extraction: extract-into-existing would glob
    # leftover members of a PREVIOUS archive into this import (phantom
    # documents), and two same-named members in different archive
    # directories must not clobber each other — the flattened name
    # keeps the member's full path (separators -> '__'), which also
    # neutralizes any '../' traversal a hostile archive could carry
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    extracted: list[str] = []
    with tarfile.open(archive_path, "r:gz") as tar:
        for i, member in enumerate(tar.getmembers()):
            if member.isfile() and member.name.endswith(".json"):
                flat = member.name.replace("/", "__").replace("\\", "__")
                # the index prefix guarantees uniqueness even when two
                # flattened names coincide; stripping leading '.'/'_'
                # keeps Spark's reader from treating the file as hidden
                flat = f"m{i:04d}__" + (flat.lstrip("._") or "member.json")
                target = os.path.join(out_dir, flat)
                with tar.extractfile(member) as src, open(target, "wb") as dst:
                    dst.write(src.read())
                extracted.append(target)
    return extracted


def import_targz(
    spark: SparkSession,
    archive_path: str,
    work_dir: str,
    schema: str | None = None,
) -> DataFrame:
    """S2: import a ``.tar.gz`` of JSON array files — driver-side
    pre-extract + multiLine scan (one task per inner file)."""
    extract_targz(archive_path, os.path.join(work_dir, "extracted"))
    return read_json_array(
        spark, os.path.join(work_dir, "extracted", "*.json"), schema=schema
    )


def validate_documents(
    df: DataFrame, id_field: str = "_id", text_fields: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """T5: require an id and at least one text field; returns
    (valid, quarantine) — invalid rows are preserved, not dropped
    (reference app/services/document_service.py:166-190).

    A column entirely ABSENT from the input schema (JSON inference
    creates no column when no document carries the field) counts as
    null for every row: validation is the bad-input stage, so it must
    quarantine such batches, not die resolving the missing column."""
    text_fields = text_fields or ["shortDescription_airgas_text"]
    for c in [id_field, *text_fields]:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    has_text = None
    for tf in text_fields:
        cond = F.col(tf).isNotNull() & (F.trim(F.col(tf)) != "")
        has_text = cond if has_text is None else (has_text | cond)
    ok = F.col(id_field).isNotNull() & has_text
    flagged = df.withColumn("__valid", ok)
    return (
        flagged.filter(F.col("__valid")).drop("__valid"),
        flagged.filter(~F.col("__valid")).drop("__valid"),
    )


def transform_products(raw: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """T1/T2/T3 over a raw document table (reference
    app/main.py:106-160, scripts/indexing.py:222-247): missing-field
    defaulting, _id-defaults-to-part-number, dense/sparse text
    synthesis, deterministic id. Shared by the upload path
    (load_products) and the engine's absorb-into-serving step, which
    must transform raw directory imports the same way. ``extra_cols``
    pass through untouched (the absorb path threads its read-order
    sequence columns alongside the product fields)."""
    # T3: ensure every product field exists (None-fill)
    for f in PRODUCT_FIELDS:
        if f not in raw.columns:
            raw = raw.withColumn(f, F.lit(None).cast("string"))
    # T2: _id defaults to the part number
    withid = raw.withColumn(
        "_id", F.coalesce(F.col("_id"), F.col("partNumber_airgas_text"))
    )
    # T1: dense_text / sparse_text / searchable_text synthesis
    return withid.select(
        *[F.col(f) for f in PRODUCT_FIELDS],
        F.col("shortDescription_airgas_text").alias("dense_text"),
        F.concat_ws(
            " ",
            F.col("shortDescription_airgas_text"),
            F.col("partNumber_airgas_text"),
            F.col("manufacturerPartNumber_text"),
        ).alias("sparse_text"),
        P.md5_long(F.col("_id"), "id").alias("id"),
        *[F.col(c) for c in extra_cols],
    )


def load_products(raw: DataFrame, table_dir: str) -> tuple[DataFrame, int]:
    """S3+T1/T2/T3: the load-data transform stack over uploaded JSON.
    Returns the written table, read back under the schema just written
    (which spares the re-read a schema-inference job), and its row
    count."""
    out = transform_products(raw)
    out.write.mode("overwrite").parquet(table_dir)
    written = out.sparkSession.read.schema(out.schema).parquet(table_dir)
    return written, written.count()


def export_documents(
    df: DataFrame, path: str, order_cols: list[str] | None = None
) -> tuple[str, int]:
    """S6: stream all documents to ONE JSON array file with a fixed key
    order (reference app/services/document_service.py:528-654).

    The reference paginates with scroll batches; here toLocalIterator
    streams partition-by-partition (bounded driver memory) into the
    array file — same output contract, no scroll loop. For sharded
    exports at scale use df.write.json (one file per partition)."""
    cols = order_cols or [c for c in PRODUCT_FIELDS if c in df.columns]
    slim = df.select(*cols).orderBy(*cols)
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write("[")
        for row in slim.toLocalIterator():
            if n:
                f.write(",\n")
            f.write(json.dumps({c: row[c] for c in cols}, ensure_ascii=False))
            n += 1
        f.write("]")
    return path, n


def export_documents_sharded(
    df: DataFrame, path: str, order_cols: list[str] | None = None
) -> tuple[str, int]:
    """S6 scale path: distributed JSON export — one JSON-lines file per
    partition via df.write.json (no row ever crosses the driver), the
    same fixed key order as the single-file export (JSON key order = the
    DataFrame's column order), plus a ``_MANIFEST.json`` recording row
    count, shard list, and key order (readers get a completeness check;
    Spark itself ignores ``_``-prefixed files on read).

    ``export_documents`` remains the reference-parity path (ONE array
    file, app/services/document_service.py:528-654); this is what you
    run at 100 TB."""
    from . import layout

    cols = order_cols or [c for c in PRODUCT_FIELDS if c in df.columns]
    slim = df.select(*cols)
    slim.write.mode("overwrite").json(path)
    spark = df.sparkSession
    # count from the written files: verifies the export, not the input
    n = spark.read.schema(slim.schema).json(path).count()
    fs, _, jvm = layout._fs(spark, path)
    shards = sorted(
        st.getPath().getName()
        for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(path + "/part-*"))
    )
    manifest = {"rows": n, "key_order": cols, "shards": shards}
    layout.write_json_meta(spark, path, "_MANIFEST.json", manifest)
    return path, n


# intake-order stamp columns written by import_full and consumed by the
# serving absorb's last-wins id dedupe (api.Engine._absorb_locked)
SRC_FILE_COL = "__src_file"
SRC_POS_COL = "__src_pos"


def import_full(spark: SparkSession, import_dir: str, table_dir: str) -> int:
    """S4: reset-and-load every *.json in the directory.

    Stamps intake order at the JSON SCAN: (source file path, row
    position). The parquet part-file order of the written table is the
    scan's size-descending split packing — NOT lexicographic file-name
    order — so without the stamp a duplicate id spanning two import
    files would resolve last-wins by FILE SIZE downstream. (The
    reference's import_full drains an unsorted glob through a thread
    pool in completion order — nondeterministic; name order is OUR
    chosen deterministic pin, not a reference-parity claim.)

    Stamp semantics: multiLine JSON is not splittable, but Spark may
    bin-pack SEVERAL small files into one scan partition, so the low
    33 bits of monotonically_increasing_id are the row's position
    within its PARTITION, not its file. That is still sufficient:
    files are read sequentially within a partition, so the stamp is
    monotonic WITHIN each file, and cross-file order comes from
    __src_file — the downstream last-wins dedupe orders by
    (file name, stamp), never by raw stamp across files."""
    docs = read_json_array(spark, os.path.join(import_dir, "*.json"))
    docs = docs.select(
        "*",
        F.col("_metadata.file_path").alias(SRC_FILE_COL),
        F.monotonically_increasing_id()
        .bitwiseAND(F.lit((1 << 33) - 1))
        .alias(SRC_POS_COL),
    )
    docs.write.mode("overwrite").parquet(table_dir)
    return spark.read.parquet(table_dir).count()


def import_delta(
    spark: SparkSession, import_dir: str, table_dir: str, key: str = "_id"
) -> dict:
    """S5: hash-join delta import — unchanged rows never rewrite.

    Returns counts per change type. At scale only the changed slice
    flows into the expensive downstream stages (embedding, indexing) —
    and against a bucketed table (sources/layout) only the changed
    keys' bucket directories are rewritten.

    Rows absent from the delta are CLASSIFIED but never deleted —
    reference parity: its delta import only upserts changed docs
    (app/services/document_service.py:477-517); deletion is the
    separate full-sync cleanup op (M3). The report key is therefore
    ``delete_candidates``, so a client reconciling against the counts
    cannot read a number of rows that were never removed as deletes.
    """
    from . import layout

    new = read_json_array(spark, os.path.join(import_dir, "*.json"))
    bucketed = layout.is_bucketed(spark, table_dir)
    # drop import_full's intake-order stamp: the delta's new side has
    # no stamp, and upsert/delta_classify need aligned schemas (the
    # merged table simply loses the stamp — absorb then falls back to
    # parquet read order, which is correct for the single-write table)
    old = spark.read.parquet(table_dir).drop(SRC_FILE_COL, SRC_POS_COL)
    if bucketed:
        old = old.drop(layout.BUCKET_COL)
    hash_cols = [c for c in new.columns if c != key]
    changes = mutations.delta_classify(old, new, key, hash_cols)
    counts = {
        r["change_type"]: r["n"]
        for r in changes.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if "delete" in counts:
        counts["delete_candidates"] = counts.pop("delete")
    if bucketed:
        # merge only the inserted/updated slice: unchanged keys' buckets
        # are never read, never written (dynamic partition overwrite)
        upserts = new.join(
            changes.filter(F.col("change_type") != "delete").select(key),
            key,
            "left_semi",
        )
        layout.bucketed_upsert(spark, table_dir, upserts, key)
        return counts
    # materialize the merge BEFORE overwriting (the plan reads the
    # same files the write replaces); localCheckpoint cuts the lineage
    # in one write instead of the old tmp-dir double write, which also
    # leaked the tmp copy on disk. With Delta/Iceberg this becomes a
    # real MERGE INTO and the rewrite disappears.
    merged = mutations.upsert(old, new, key).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(table_dir)
    return counts
