"""Mutation & versioning operators (SURVEY.md §2.9 M1-M9, §2.2 T4,
§2.1 S5).

The reference mutates a Qdrant collection point-by-point with scroll
loops (reference app/core/database.py:140-226,
app/services/version_service.py:49-239). Spark-first, every mutation is
a set operation producing a new table snapshot:

  upsert (M1)        new UNION (old ANTI-JOIN new on key)
  delete (M2)        old ANTI-JOIN ids
  cleanup_old (M3)   old ANTI-JOIN new  -> the rows to delete; the
                     surviving table is old SEMI-JOIN new
  delta detect (T4)  content-hash equality join: insert/update/delete
                     classification in ONE full-outer join pass
  versioning (M4-M7) version = row_number over (key ORDER BY event
                     time); current = last per key; history = the rest

Scale shape: all of these are key-partitioned joins — at 100 TB both
sides hash-partition on the key once and stream; with Delta/Iceberg the
same plans become MERGE INTO / WHEN NOT MATCHED BY SOURCE DELETE, but
nothing here requires a table format. The content hash makes delta
imports shuffle only the changed slice downstream (embedding, indexing
— the expensive stages — see sources/delta_import).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


NULL_FIELD_MARK = "n"  # can't open a non-null encoding (digit-first)

# column types whose cast-to-string rendering is identical in Spark and
# DuckDB. Doubles are NOT here (Spark '1.0E9' vs DuckDB '1000000000.0',
# plans/corpus.py), nor timestamps/decimals/arrays — a caller hashing
# one would silently drift the Spark hash from the _HASH_SQL oracle twin.
HASHABLE_TYPES = {
    "string", "tinyint", "smallint", "int", "bigint", "date", "boolean",
}


def check_hash_cols(df: DataFrame, cols: list[str]) -> None:
    """Reject hash columns whose string rendering diverges across
    engines — the drift would be invisible to both (each engine is
    self-consistent) until the oracle comparison silently checks two
    different hashes. Only the ORACLE-PAIRED call sites
    (plans/registry_mutations) need this; Spark-only hash-to-hash
    comparisons (delta_classify) are engine-consistent by construction
    and take any type whose dtypes match on both sides."""
    bad = [
        (c, t) for c, t in df.select(*cols).dtypes if t not in HASHABLE_TYPES
    ]
    if bad:
        raise TypeError(
            f"content_hash columns with engine-divergent string "
            f"renderings: {bad} — cast to a {sorted(HASHABLE_TYPES)} "
            f"type (with an explicit, documented format) first"
        )


def content_hash(cols: list[str]) -> Column:
    """T4/C5: sha256 over a fixed field order (the reference hashes
    key-sorted JSON, app/services/document_service.py:328-332).

    Each field contributes a LENGTH-PREFIXED encoding —
    ``len(s) || ':' || s`` for values, the bare marker ``'n'`` for
    NULL — and one sha256 covers the concatenation. The stream is
    uniquely decodable (read digits to ':', consume that many chars;
    a leading 'n' is a NULL field), so the NULL-shift and
    delimiter-shift collisions of the old '|'-joined concat_ws stay
    impossible, with ONE hash pass instead of the per-field-md5
    encoding's N+1 (that fix was correct but ~60% slower on the
    upsert family). The DuckDB twin is
    plans/registry_mutations._HASH_SQL — change both together.

    Columns must be HASHABLE_TYPES (validated by check_hash_cols at
    the df-aware call sites): each field is encoded via cast('string')
    vs the twin's ::VARCHAR, and only those types render identically
    in both engines."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(F.col(c).isNull(), F.lit(NULL_FIELD_MARK)).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.sha2(F.concat(*parts), 256)


def upsert(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """M1: MERGE-equivalent — new rows win, unmatched old rows survive."""
    surviving_old = old.join(new.select(key), key, "left_anti")
    return new.unionByName(surviving_old)


def cleanup_old(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """M3: rows present in the store but absent from the new load —
    the reference's scroll-all + set-difference loop collapsed to one
    anti join (reference app/core/database.py:184-226)."""
    return old.join(new.select(key), key, "left_anti")


def delta_classify(
    old: DataFrame, new: DataFrame, key: str, hash_cols: list[str]
) -> DataFrame:
    """T4/S5: classify every key as insert / update / delete.

    Unchanged rows (hash-equal) are dropped — the reference's delta
    import skips them (app/services/document_service.py:391-421).
    One full-outer join on the key; hashes computed map-side.
    """
    # both hashes are Spark-rendered, so ANY column type is
    # self-consistent — but only if old and new agree on it: a bigint-5
    # vs double-5.0 pair renders '5' vs '5.0' and every such row would
    # silently classify as 'update'
    o_types = dict(old.select(*hash_cols).dtypes)
    n_types = dict(new.select(*hash_cols).dtypes)
    mismatched = [
        (c, o_types[c], n_types[c])
        for c in hash_cols
        if o_types[c] != n_types[c]
    ]
    if mismatched:
        raise TypeError(
            f"delta_classify hash columns typed differently in old vs "
            f"new (col, old, new): {mismatched} — align the schemas "
            f"(explicit read schema / cast) before classifying"
        )
    o = old.select(F.col(key), content_hash(hash_cols).alias("old_hash"))
    n = new.select(F.col(key), content_hash(hash_cols).alias("new_hash"))
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("old_hash").isNull(), F.lit("insert"))
        .when(F.col("new_hash").isNull(), F.lit("delete"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("update"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())


def with_versions(
    events: DataFrame, key: str, order_cols: list[str]
) -> DataFrame:
    """M4/M5 versioning backbone: version numbers per key in event
    order (1 = oldest), plus is_current flag for the newest.

    CONTRACT: order_cols must be a TOTAL order within each key —
    row_number over a tied ORDER BY is partition-order dependent, so
    ties would flip which row is "current" between runs. In-repo
    callers order by (ts, event_id); callers with non-unique
    timestamps must append their own unique tiebreak column."""
    asc = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
    versioned = events.withColumn("version", F.row_number().over(asc).cast("bigint"))
    wmax = Window.partitionBy(key)
    return versioned.withColumn(
        "is_current", F.col("version") == F.max("version").over(wmax)
    )


def current_versions(events: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """'Current version' view — the reference's main-collection row
    (history holds the rest, SURVEY.md §1.2)."""
    return with_versions(events, key, order_cols).filter(F.col("is_current")).drop(
        "is_current"
    )


def version_history(
    events: DataFrame, key: str, order_cols: list[str], n: int
) -> DataFrame:
    """M6: per-key history — the newest n versions of each key.

    Two window aggregates (version rank + per-key max), not the three
    the with_versions + desc-rank formulation paid: "newest n" is just
    version > max(version) - n, no second sort and no is_current
    column computed only to be dropped. Same rows, same columns;
    presentation order is the caller's ORDER BY."""
    asc = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
    versioned = events.withColumn(
        "version", F.row_number().over(asc).cast("bigint")
    )
    wmax = Window.partitionBy(key)
    return (
        versioned.withColumn("__mx", F.max("version").over(wmax))
        .filter(F.col("version") > F.col("__mx") - n)
        .drop("__mx")
    )


def versioned_tables(
    events: DataFrame, key: str, order_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """M4/M5 two-table fidelity: the reference materializes versions as
    a MAIN collection (current rows) plus a ``{c}_history`` collection
    whose ids are ``{doc_id}_v{n}`` with an ``original_id`` back-pointer
    (reference app/services/version_service.py:24,112-127 — update
    archives the superseded row into history, then bumps main).

    main    = current version per key (keeps ``version``)
    history = every superseded version, id'd ``{key}_v{version}``,
              key column replaced by ``original_id``

    One window pass derives both. NOTE: two separate write ACTIONS on
    the returned frames each re-run the scan+window — a caller writing
    both tables should materialize the shared base once
    (with_versions(...).localCheckpoint(eager=True)) and derive via
    versioned_tables_from, as q_version_archive does."""
    return versioned_tables_from(with_versions(events, key, order_cols), key)


def versioned_tables_from(
    v: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """The (main, history) pair from an already-built with_versions
    frame — lets callers materialize the expensive window once and
    feed both table writes from it."""
    main = v.filter(F.col("is_current")).drop("is_current")
    history = (
        v.filter(~F.col("is_current"))
        .select(
            F.concat(
                F.col(key).cast("string"), F.lit("_v"), F.col("version").cast("string")
            ).alias("history_id"),
            F.col(key).alias("original_id"),
            *[c for c in v.columns if c not in (key, "is_current")],
        )
    )
    return main, history


def get_version(
    events: DataFrame, key: str, order_cols: list[str], key_value, version: int
) -> DataFrame:
    """M7: one specific version of one key (current-or-history lookup)."""
    return (
        with_versions(events, key, order_cols)
        .filter((F.col(key) == F.lit(key_value)) & (F.col("version") == version))
        .drop("is_current")
    )
