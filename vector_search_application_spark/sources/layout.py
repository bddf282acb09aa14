"""Physical layout for point lookups (SURVEY.md §2.4 I4/I5).

The reference's payload keyword index (scripts/indexing.py:383-443)
gives 1-5 ms exact part-number search; its optimizer/shard config
(scripts/indexing.py:358-378) fixes 6 segments x 2 shards. Neither has
query *semantics* — in Spark they map to table layout:

  I4  keyword index   -> hash-bucket directory partitioning on the
                         lookup key: the key's bucket is computable
                         from the query literal, so a lookup carries a
                         partition predicate and Catalyst prunes every
                         other bucket directory BEFORE any file I/O
                         (PartitionFilters in explain; at 100 TB the
                         scan touches 1/N of the files).
  I5  segments/shards -> the bucket count itself plus in-bucket file
                         parallelism (maxPartitionBytes); AQE handles
                         the rest at read time.

Semantically both are no-ops: the lookup result equals a plain filter
over the unindexed table, which is exactly what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 16
BUCKET_COL = "__bucket"


def _bucket_of(key: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(n_buckets))


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — the portable existence/listing
    API (os.listdir only works on the local FS; this resolves s3a://,
    hdfs://, file:// alike through the same Hadoop conf Spark uses)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def table_has_data(spark: SparkSession, path: str) -> bool:
    """True when the table directory exists and holds parquet data
    (flat, or one/two levels of partition directories — two covers
    the streaming state's (__epoch, __bucket) layout)."""
    fs, hpath, jvm = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    mk = jvm.org.apache.hadoop.fs.Path
    for pat in ("/*.parquet", "/*/*.parquet", "/*/*/*.parquet"):
        st = fs.globStatus(mk(path.rstrip("/") + pat))
        if st is not None and len(st) > 0:
            return True
    return False


def glob_paths(spark: SparkSession, pattern: str) -> list[str]:
    """The paths matching the Hadoop glob ``pattern``, sorted, listed on
    the driver through the Hadoop FS (no Spark job). A reader handed
    these reads literal paths: a glob given to ``spark.read`` reaches
    its streaming-metadata probe as a file name and logs a
    FileNotFoundException."""
    fs, hpath, _ = _fs(spark, pattern)
    return sorted(st.getPath().toString() for st in fs.globStatus(hpath) or [])


def is_bucketed(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a bucketed layout (``__bucket=N`` dirs)."""
    return bool(glob_paths(spark, path.rstrip("/") + f"/{BUCKET_COL}=*"))


LAYOUT_META = "_LAYOUT.json"


def write_json_meta(spark: SparkSession, path: str, name: str, obj) -> None:
    """Write a small JSON metadata file next to a table through the
    Hadoop FS API (works on s3a/hdfs/file alike). Shared by the
    _LAYOUT.json write here and json_source's _MANIFEST.json."""
    import json as _json

    fs, _, jvm = _fs(spark, path)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + name), True
    )
    out.write(bytearray(_json.dumps(obj).encode("utf-8")))
    out.close()


def read_json_meta(spark: SparkSession, path: str, name: str):
    """Read a JSON metadata file written by write_json_meta, or None if
    absent."""
    import json as _json

    fs, _, jvm = _fs(spark, path)
    meta = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + name)
    if not fs.exists(meta):
        return None
    stream = fs.open(meta)
    try:
        # py4j passes byte[] buffers by VALUE, so stream.read(buf)
        # cannot fill a Python bytearray — read through a Java-side
        # string conversion instead (commons-io ships with Hadoop)
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return _json.loads(text)


def write_bucketed(
    df: DataFrame, path: str, key_col: str, n_buckets: int = N_BUCKETS
) -> None:
    """I4 index build: persist hash-bucketed by the lookup key. The
    bucket count AND key column are part of the LAYOUT, not of any one
    query — both are persisted next to the data so readers derive them
    from the table instead of trusting free parameters (a mod-8 table
    probed with mod-16, or a doc_id-bucketed table probed on source,
    prunes to a bucket that cannot contain the row and silently returns
    empty; an upsert with either wrong writes rows into buckets correct
    lookups never scan)."""
    df.withColumn(BUCKET_COL, _bucket_of(F.col(key_col), n_buckets)).write.mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).parquet(path)
    write_json_meta(
        df.sparkSession,
        path,
        LAYOUT_META,
        {"key_col": key_col, "n_buckets": n_buckets},
    )


def stored_layout(spark: SparkSession, path: str) -> dict | None:
    """The {key_col, n_buckets} the layout was WRITTEN with, or None
    for a pre-metadata table."""
    return read_json_meta(spark, path, LAYOUT_META)


def stored_n_buckets(spark: SparkSession, path: str) -> int | None:
    """The bucket count the layout was WRITTEN with, or None for a
    pre-metadata table."""
    meta = stored_layout(spark, path)
    return None if meta is None else int(meta["n_buckets"])


def _resolve_n_buckets(
    spark: SparkSession,
    path: str,
    n_buckets: int | None,
    key_col: str | None = None,
) -> int:
    """Stored layout wins; an explicit caller value that CONTRADICTS
    the stored layout — bucket count OR key column — is a hard error,
    never a silent empty result."""
    meta = stored_layout(spark, path)
    if meta is None:
        return N_BUCKETS if n_buckets is None else n_buckets
    stored = int(meta["n_buckets"])
    if n_buckets is not None and n_buckets != stored:
        raise ValueError(
            f"layout at {path} was written with n_buckets={stored}, "
            f"caller passed {n_buckets}"
        )
    stored_key = meta.get("key_col")
    if key_col is not None and stored_key is not None and key_col != stored_key:
        raise ValueError(
            f"layout at {path} is bucketed on {stored_key!r}, "
            f"caller asked for {key_col!r} — the lookup would prune to "
            f"a bucket that cannot contain the row"
        )
    return stored


def indexed_lookup(
    spark: SparkSession,
    path: str,
    key_col: str,
    query: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Exact lookup over the bucketed layout: the bucket predicate is
    derived from the query literal (constant-folded), so only one
    bucket directory is listed and read.

    The key is matched EXACTLY as stored — the index must equal a plain
    ``key_col == query`` filter. Query normalization (the reference's
    strip().upper(), C2) is the caller's concern, applied BEFORE the
    bucket is derived.

    The query literal is CAST to the stored key's type before hashing:
    write_bucketed bucketed on xxhash64 of the stored value, and
    xxhash64(bigint 5) != xxhash64(string '5') — an uncast string
    lookup against a numeric key would prune to a bucket that cannot
    contain the row and silently return empty."""
    n_buckets = _resolve_n_buckets(spark, path, n_buckets, key_col=key_col)
    table = spark.read.parquet(path)
    key_type = dict(table.dtypes)[key_col]
    q = F.lit(query).cast(key_type)
    return (
        table.filter(
            (F.col(BUCKET_COL) == _bucket_of(q, n_buckets))
            & (F.col(key_col) == q)
        ).drop(BUCKET_COL)
    )


def bucketed_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """M1 upsert that rewrites ONLY the buckets containing changed keys.

    The plain-parquet MERGE fallback (operators/mutations.upsert)
    rewrites the whole table; against the bucketed layout, the updates'
    buckets are computable from their keys, so the merge reads just
    those bucket directories and Spark's dynamic partition overwrite
    (partitionOverwriteMode=dynamic) replaces just those directories on
    write. At 100 TB with 1024 buckets, upserting a 0.1% key slice
    touches ~anything-but-the-whole-table; untouched buckets are never
    read, never written. This is exactly what a Delta/Iceberg MERGE
    does at file granularity — expressed with stock Spark partitioning.
    """
    n_buckets = _resolve_n_buckets(spark, path, n_buckets, key_col=key_col)
    up = updates.withColumn(BUCKET_COL, _bucket_of(F.col(key_col), n_buckets))
    touched = [r[BUCKET_COL] for r in up.select(BUCKET_COL).distinct().collect()]
    current = spark.read.parquet(path).filter(F.col(BUCKET_COL).isin(touched))
    merged = (
        current.join(up.select(key_col).distinct(), key_col, "left_anti")
        .unionByName(up)
        # the plan reads the same directories the write replaces:
        # materialize first to cut lineage to the source files
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # overwrite replaces only the partition dirs present in `merged`
        # (= the touched buckets) under dynamic mode
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.read.parquet(path)


def compact_buckets(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 1,
) -> dict[str, int]:
    """Operational companion to the streaming merge: every micro-batch
    upsert appends files to its touched buckets, so a long-running
    ingest accumulates small files (the classic streaming-sink
    problem). Compaction rewrites ONLY buckets whose file count exceeds
    the target — each one re-written as max_files_per_bucket files via
    dynamic partition overwrite, data byte-equal, untouched buckets
    left alone. Run it off the hot path (a maintenance trigger), like
    Delta OPTIMIZE / Iceberg rewrite_data_files, expressed with stock
    partitioning.

    Returns {bucket_dir: files_before} for the compacted buckets.
    """
    fs, _, jvm = _fs(spark, path)
    mk = jvm.org.apache.hadoop.fs.Path
    todo: dict[str, int] = {}
    # globStatus returns null (None over py4j) for an unmatched pattern
    # — a missing or non-bucketed table compacts to nothing, it doesn't
    # TypeError (same guard as table_has_data / is_bucketed)
    matches = fs.globStatus(mk(path.rstrip("/") + f"/{BUCKET_COL}=*")) or []
    for st in matches:
        d = st.getPath()
        n = sum(
            1
            for f in fs.listStatus(d)
            if f.getPath().getName().endswith(".parquet")
        )
        if n > max_files_per_bucket:
            todo[d.getName()] = n
    if not todo:
        return todo
    buckets = [int(name.split("=", 1)[1]) for name in todo]
    # repartitioning by BUCKET_COL alone would collapse each bucket into
    # ONE partition (one file, one task) regardless of the target; a
    # row-id salt splits each bucket across max_files_per_bucket tasks
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(max_files_per_bucket))
    slice_df = (
        spark.read.parquet(path)
        .filter(F.col(BUCKET_COL).isin(buckets))
        .withColumn("__salt", salt)
        .repartition(max_files_per_bucket * len(buckets), BUCKET_COL, F.col("__salt"))
        .drop("__salt")
        .localCheckpoint(eager=True)  # cut lineage to the files we replace
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        slice_df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return todo
