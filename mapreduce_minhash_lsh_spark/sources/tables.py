"""Table catalog over the parquet testdata + the reference's text source.

Covers SURVEY.md §2.1:
  S1 text-line scan   -> ``read_text_docs`` (stable doc ids without the
                         reference's byte-offset hack, Shingling.java:33,40)
  S1 parquet scan     -> ``load_table`` (columnar, predicate-pushdown-able)
  S4 CSV sink+header  -> ``write_csv`` (reference hand-writes headers in
                         Reducer.setup — Shingling.java:68-74)
  S5 overwrite        -> mode("overwrite") (reference deletes the output
                         dir by hand — Shingling.java:98-100)
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_minhash_lsh_spark.sources.fs import fs_delete, fs_exists, fs_rename

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Repartition key per table (its primary id) — see ensure_min_partitions.
TABLE_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}


# (applicationId, source path, key, minimum) -> the repartition
# decision of ensure_min_partitions.  Probing the decision is the
# expensive part (plan statistics + df.rdd materializes the physical
# RDD — measured 0.13-0.19 s PER load_table call, and a 6-table star
# join pays it six times per query); for a fixed session and source
# file the decision is deterministic, so it is probed once (r14).
# Entries from other applications are dropped on access.
# Both memos are mutated AND swept from concurrent driver threads (the
# repo submits jobs via ThreadPoolExecutor; ADVICE r14) — one lock
# guards every access; the guarded sections are pure dict ops plus, at
# worst, one plan-statistics probe, so contention is negligible.
_MEMO_LOCK = threading.Lock()
_MIN_PART_MEMO: dict[tuple[str, str, str, int], bool] = {}


def ensure_min_partitions(
    df: DataFrame, key: str, minimum: int | None = None,
    memo_path: str | None = None,
) -> DataFrame:
    """Hash-repartition on ``key`` — but ONLY when the scan under-splits.

    A small local parquet file is one row group, so Spark gives it ONE
    input partition and every map-side stage before the first shuffle
    (shingle explode, minhash, matmul prefilters) runs on one core; that
    single-task scan, not codegen, dominated the sf0.1 flagship wall
    clock.  At real scale inputs carry >= cores partitions and this is a
    metadata check followed by a no-op — no shuffle is ever added to a
    well-split scan, so predicate pushdown/broadcast plans are untouched
    where they matter.

    Hash-by-key (not round-robin) on purpose: round-robin placement
    hangs on the binary row produced below the exchange, and column
    pruning differs per consuming plan — so two plans over the same
    ``limit(n)`` could see different row subsets.  Hash placement
    depends only on the key value: deterministic under any pruning.

    Size-gated: a scan under 128 KB (true dimension tables — region is
    5 rows) gains nothing from 32 tasks; skipping it avoids a pointless
    exchange per dimension reference in every star join.  The threshold
    is deliberately low because bytes-on-disk undersell post-scan
    fan-out (documents is ~600 KB compressed at sf0.1 but explodes to
    7M+ shingle rows).

    ``memo_path``: opt-in per-session memo of the DECISION (see
    _MIN_PART_MEMO) — callers reading a source that is stable for the
    session's lifetime (load_table over the immutable testdata) skip
    the probes on every call after the first.  Callers whose input can
    change under the same path must leave it None.
    """
    spark = df.sparkSession
    minimum = minimum or spark.sparkContext.defaultParallelism
    app = spark.sparkContext.applicationId
    mk = None
    if memo_path is not None:
        mk = (app, memo_path, key, minimum)
        with _MEMO_LOCK:
            for stale in [k for k in _MIN_PART_MEMO if k[0] != app]:
                del _MIN_PART_MEMO[stale]
            hit = _MIN_PART_MEMO.get(mk)
        if hit is not None:
            if hit:
                return df.repartition(minimum, F.col(key))
            return df
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    need = size >= 128 * 1024 and df.rdd.getNumPartitions() < minimum
    if mk is not None:
        with _MEMO_LOCK:
            _MIN_PART_MEMO[mk] = need
    if need:
        return df.repartition(minimum, F.col(key))
    return df


# (applicationId, sf_dir, name) -> the fully-derived table DataFrame.
# DataFrames are immutable plans, so handing every caller the same
# object is safe; re-CONSTRUCTING it (parquet footer/schema read,
# relation + column py4j calls) measured ~0.1-0.15 s per call, paid up
# to six times per star-join query.  The testdata contract makes the
# memo sound: a (sf_dir, name) parquet is immutable for the session.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    app = spark.sparkContext.applicationId
    # Calendar functions (year/date_trunc) are session-timezone dependent;
    # the testdata timestamps are naive-UTC and the DuckDB oracle reads
    # them naively, so pin UTC regardless of who built this session — on
    # EVERY call, memo hit or not (ADVICE r14: re-pinning only on misses
    # let a caller that mutated the timezone after the first load drift
    # calendar queries away from the oracle).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    mk = (app, sf_dir, name)
    with _MEMO_LOCK:
        for stale in [k for k in _TABLE_MEMO if k[0] != app]:
            del _TABLE_MEMO[stale]
        hit = _TABLE_MEMO.get(mk)
    if hit is not None:
        return hit
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read the raw int64 nanos and expose ts_us
        # (microseconds, matching DuckDB's ns->us truncation on read).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        # The conf above (also baked into get_spark's base conf) makes the
        # nanos column come back as int64; if schema inference raced the
        # conf (driver thread pools) it surfaces as TIMESTAMP_NTZ instead —
        # derive the identical micros value from either shape.
        if dict(df.dtypes)["ts"] == "bigint":
            ts_us = F.expr("ts div 1000").cast("long")
        else:
            ts_us = F.unix_micros(F.col("ts").cast("timestamp")).cast("long")
        out = ensure_min_partitions(
            df.withColumn("ts_us", ts_us), TABLE_KEYS[name],
            memo_path=os.path.join(sf_dir, f"{name}.parquet"),
        )
    else:
        out = ensure_min_partitions(
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")),
            TABLE_KEYS[name],
            memo_path=os.path.join(sf_dir, f"{name}.parquet"),
        )
    with _MEMO_LOCK:
        _TABLE_MEMO[mk] = out
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql plans)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_docs(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text file -> DataFrame[doc_id: long, text: string].

    The reference uses the line's *byte offset* as its row id (an MR
    artifact of TextInputFormat — reference Shingling.java:30,40).  We use
    the 0-based line number: stable, partition-order-independent via a
    single-file sort. For the multi-TB path prefer parquet with explicit
    ids (``load_table``); this source exists for reference-corpus parity.
    """
    lines = spark.read.text(path)
    w = Window.orderBy(F.monotonically_increasing_id())
    return lines.select(
        (F.row_number().over(w) - 1).cast("long").alias("doc_id"),
        F.col("value").alias("text"),
    )


def write_csv(df: DataFrame, path: str) -> None:
    """Quoted CSV with header, overwrite — the reference's sink contract
    (S4/S5) without the hand-rolled header/quote code."""
    df.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a fragmented parquet directory into ~target_bytes files.

    The small-files problem is the classic failure mode of long-running
    pipelines (every streaming micro-batch and over-parallel write leaves
    shards; a 100 TB table of 1 MB files dies in the driver's file
    listing).  Compaction = read, ``coalesce`` to ceil(size/target) — a
    shuffle-free narrow dependency that only merges partitions — and
    rewrite.  Size comes from the scan's own file statistics, so the
    estimate works on any Hadoop-compatible filesystem.  Returns the
    output partition count.
    """
    a = os.path.abspath(in_path.removeprefix("file:"))
    b = os.path.abspath(out_path.removeprefix("file:"))
    if a == b or b.startswith(a + os.sep) or a.startswith(b + os.sep):
        # mode("overwrite") clears out_path before/while the scan reads
        # in_path — in-place compaction would destroy the source.
        raise ValueError(
            f"compact_parquet cannot write into its input: {in_path!r} vs "
            f"{out_path!r}; write to a sibling path and swap afterwards"
        )
    df = spark.read.parquet(in_path)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_out = max(1, -(-size // target_bytes))
    writer = df.coalesce(n_out).write.mode("overwrite")
    if partition_by:
        # Preserve a partitioned table's layout (pass its partition
        # columns) so readers and upsert_parquet keep pruning.
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    return n_out


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str | None = None,
) -> None:
    """MERGE-by-key into a parquet directory: rows of ``updates`` replace
    existing rows with the same key; new keys append.  The upsert every
    pipeline needs and plain parquet doesn't give you.

    Two modes:

    * ``partition_col`` set (the 100 TB path): only the partitions the
      updates TOUCH are read (partition pruning via the collected —
      bounded by touched-partition count — value list), anti-joined,
      unioned, and rewritten with DYNAMIC partition overwrite; untouched
      partitions are never read or written.  The merged slice is eagerly
      materialized first, because the overwrite clears partitions the
      merge plan still has to read — same read-modify-write discipline
      as the streaming state store (streaming/jobs.py).
      CONTRACT: a key's partition value must be stable.  A key that
      MOVES partitions would leave its old row in the untouched old
      partition (this mode never reads it — that is the point); dedup
      by key across partitions needs the unpartitioned mode or an
      explicit delete first.
    * unpartitioned (small tables): full merge written to a staging
      sibling, then swapped in via two FileSystem renames (scheme-
      resolved, so hdfs://-style stores work; on s3a:// each rename is
      a copy+delete).  The swap is NOT atomic: a crash between the
      renames leaves the table at ``<path>__old`` (recover by renaming
      it back).  For transactional commits on object stores use a
      manifest/table format instead.

    Re-running the same upsert is idempotent in both modes.
    """
    # One eager materialization up front: the merge below references
    # ``updates`` several times (touched-partition collect, anti-join
    # keys, union), and in partitioned mode a plan re-evaluated AFTER
    # the overwrite started could disagree with the collected partition
    # list — rows landing in a partition absent from ``touched`` would
    # replace that partition instead of merging into it.
    updates = updates.localCheckpoint(eager=True)
    # Scheme-resolved probe (sources/fs.py): os.path.exists is always
    # False for remote URIs, which would silently turn this MERGE into
    # a full-table overwrite on s3a://hdfs:// stores (VERDICT r10 #3).
    if not fs_exists(spark, path):
        writer = updates.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return
    if partition_col:
        touched = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        # NULL partition values never match isin(); without the explicit
        # isNull branch an update row in the NULL partition would make
        # the dynamic overwrite REPLACE that partition instead of
        # merging into it.
        cond = F.col(partition_col).isin([t for t in touched if t is not None])
        if any(t is None for t in touched):
            cond = cond | F.col(partition_col).isNull()
        existing = spark.read.parquet(path).where(cond)
        merged = (
            existing.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            .unionByName(updates)
            .select(*updates.columns)
            .localCheckpoint(eager=True)
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        return
    existing = spark.read.parquet(path)
    merged = (
        existing.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        .unionByName(updates)
        .select(*updates.columns)
    )
    staging = path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    _swap_staging(spark, path, staging)


def _swap_staging(spark: SparkSession, path: str, staging: str) -> None:
    """Two-rename swap of a freshly written staging sibling into
    ``path``, all through the scheme-resolved FileSystem API so remote
    stores get real renames instead of silent local no-ops.  Non-atomic:
    a crash between the renames leaves the table at ``<path>__old``."""
    old = path.rstrip("/") + "__old"
    if fs_exists(spark, old):
        fs_delete(spark, old)
    fs_rename(spark, path, old)
    fs_rename(spark, staging, path)
    fs_delete(spark, old)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines source — the interchange format of LLM corpora.

    Pass an explicit DDL ``schema`` in production: schema inference
    reads the data TWICE (a full extra scan at 100 TB) and silently
    widens types from whatever it sampled.  multiLine stays False so
    the file splits by newline across executors; a multi-line JSON
    document cannot be split and serializes the whole file through one
    task.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink, overwrite; one object per line, splittable on read."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar format LLM corpora arrive in
    (Hive-era lakes).  Native Spark reader: predicate pushdown and
    column pruning work the same as parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink, overwrite, optional partitioning — same contract as
    ``write_parquet``."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def delete_from_parquet(
    spark: SparkSession,
    path: str | list[str],
    keys: DataFrame,
    key_cols: list[str],
) -> None:
    """Delete every row whose key appears in ``keys`` from a parquet
    directory — the data-removal primitive (takedowns, post-dedup
    pruning) plain parquet lacks.  Anti-join + staged swap, same
    non-atomic-rename caveat and idempotency as the unpartitioned
    ``upsert_parquet`` mode; deleting keys that are absent is a no-op.

    ``path`` may list several tables that share the key columns: the
    distinct key set is materialized once and every table is rewritten
    from it, in list order.
    """
    # Scheme-resolved probe: os.path.exists on a remote URI is always
    # False, which silently turned takedown deletes into no-ops there
    # (VERDICT r10 #3).
    paths = [path] if isinstance(path, str) else path
    paths = [p for p in paths if fs_exists(spark, p)]
    if not paths:
        return
    keys = keys.select(*key_cols).distinct().localCheckpoint(eager=True)
    for p in paths:
        remaining = spark.read.parquet(p).join(keys, key_cols, "left_anti")
        staging = p.rstrip("/") + "__staging"
        remaining.write.mode("overwrite").parquet(staging)
        _swap_staging(spark, p, staging)


def apply_cdc(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str = "op",
) -> None:
    """Apply a change-data-capture batch to a parquet table: rows with
    ``op`` 'I' or 'U' upsert by key, rows with 'D' delete their key —
    the MERGE WHEN MATCHED/NOT MATCHED/DELETE triple over the two
    primitives above.  Deletes win over same-batch upserts of the same
    key (the batch's final intent).  Unknown op values raise."""
    # One action plans op validation AND both emptiness probes (the
    # op domain is <= 3 rows; this replaces two limit(1).count()s plus a
    # distinct().collect() with a single ~3-row groupBy).
    op_counts = {
        r[0]: r[1]
        for r in changes.groupBy(op_col).count().collect()
    }
    bad = [o for o in op_counts if o not in ("I", "U", "D")]
    if bad:
        raise ValueError(f"apply_cdc: unknown op values {bad}")
    n_deletes = op_counts.get("D", 0)
    n_upserts = op_counts.get("I", 0) + op_counts.get("U", 0)
    deletes = changes.where(F.col(op_col) == "D").select(*key_cols)
    upserts = (
        changes.where(F.col(op_col) != "D")
        .join(deletes, key_cols, "left_anti")
        .drop(op_col)
    )
    # The pre-anti-join count can overstate: when every upsert key is also
    # deleted in the same batch the post-anti-join relation is empty, and
    # upsert_parquet on an empty relation is a full table rewrite (or the
    # creation of an empty table on a fresh path) for a no-op — re-probe
    # the anti-joined relation cheaply before paying that.
    if n_upserts and n_deletes:
        n_upserts = not upserts.isEmpty()
    if n_upserts:
        upsert_parquet(spark, upserts, path, key_cols)
    if n_deletes:
        delete_from_parquet(spark, path, deletes, key_cols)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int | None = None
) -> None:
    """Write ``df`` globally sorted by ``sort_cols`` without a
    single-task sort: range-partition on the sort key (sampled range
    boundaries, one shuffle), sort WITHIN each partition, write.  File
    i holds a contiguous, non-overlapping key range below file i+1's,
    so readers get total order by concatenating files in order and
    min/max row-group stats prune range predicates maximally — the
    standard layout step before handing a corpus to consumers."""
    cols = [F.col(c) for c in sort_cols]
    ranged = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)
