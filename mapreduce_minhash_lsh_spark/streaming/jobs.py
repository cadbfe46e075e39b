"""Streaming jobs over the events/documents parquet directories.

Patterns covered (each with a batch-equivalent used as its oracle):

  * tumbling-window aggregation (hourly event rollup) with a watermark;
  * streaming exact dedup (``dropDuplicates`` keyed on id within the
    watermark horizon) — the incremental form of operators/dedup.py;
  * incremental near-dup candidate detection via ``foreachBatch``: each
    micro-batch runs through the band store's per-batch step and verify
    (operators/bandstore.py) and is band-joined against the band-key
    and shingle logs of earlier batches — one logic, two execution
    modes.

``Trigger.AvailableNow`` drains all existing files then stops, which
makes every job here runnable (and deterministically testable) on the
static testdata; in production the same code tails a directory/Kafka.
The memory-sink jobs drain through :func:`_drain`.

The seven state-dir jobs (``incremental_similar_pairs``,
``streaming_ivf_index`` and the five log jobs in ``_LOG_SPECS``) run
through one ``foreachBatch`` harness, :func:`_run_state_dir_job`, and
supply only a per-batch step and a read-back.  The ``state_dir``
contract they share:

* Fingerprint.  A caller ``state_dir`` means "resume THIS input": the
  first run records what the state depends on (corpus path plus the
  job's geometry or signature spec) in ``source_meta``, and a run with
  another fingerprint is refused, since the committed offsets name the
  stored split and a silent resume would return the old input's result.
  Read-side knobs (a pair threshold, ``n_merges``, ``min_count``) may
  vary over one state.  Without a ``state_dir`` the job owns a temp dir
  and removes it before returning.
* Meta before split.  The source is re-split once into 4 files under
  the state dir and fed one file per trigger, so a static corpus
  arrives as real micro-batches and a restart sees the files its
  offsets name.  ``source_meta`` commits before the split's
  ``_SUCCESS``, so no crash leaves a committed split without its
  fingerprint; a committed split whose meta is missing or empty is
  corrupt state and fails fast.
* Replay idempotency.  Each micro-batch writes under its own
  ``batch_id=`` partition with dynamic partition overwrite: a replayed
  batch replaces its partition instead of double-counting, and a rerun
  over a drained state replays nothing.  Every log is read through its
  fold (``_StateDir.fold``: SUM, bit_or, DISTINCT, or UNION of disjoint
  rows), each associative, so the folded state equals the batch-built
  one under any micro-batching and each job's oracle is its batch
  twin's SQL.
* Compaction safety.  :func:`compact_state` writes the same folds into
  one ``batch_id=-1`` partition, below every real batch, and refuses
  while a batch has an offset but no commit: that batch will replay,
  and folding it first would double-count a SUM log."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.operators.bandstore import _batch_step, _verify
from mapreduce_minhash_lsh_spark.operators.minhash import _guard_spec
from mapreduce_minhash_lsh_spark.operators.similarity import _materialize
from mapreduce_minhash_lsh_spark.sources.fs import (
    fs_delete,
    fs_exists,
    fs_join,
    fs_list_names,
    fs_rename,
)
from mapreduce_minhash_lsh_spark.sources.tables import load_table

# Every log under a streaming state_dir, with its fold: subdir -> (kind,
# group_cols, value_cols).  kind "sum" folds with SUM (associative
# integer counts), "or" with bit_or (associative, commutative,
# idempotent), "set" with DISTINCT (set union), "rows" with plain UNION:
# each doc belongs to exactly one micro-batch, so the row-store
# partitions are disjoint and compacting them is an identity rewrite
# that collapses one-directory-per-batch into one (SCALE.md §17).
_LOG_SPECS: dict[str, tuple[str, list[str], list[str]]] = {
    "bloom_bits": ("or", ["word"], ["bits"]),          # streaming_bloom_words
    "lc_bits": ("or", ["lang", "word"], ["bits"]),     # streaming_lang_vocab_sketch
    "counts_bucket": ("sum", ["bucket"], ["c_bg", "c_tg"]),  # streaming_dsir_logweights
    "counts_bigram": ("sum", ["bigram"], ["c"]),       # streaming_lm_scores
    "counts_word": ("sum", ["word"], ["cnt"]),         # streaming_bpe_merges
    "counts_prefix": ("sum", ["w1"], ["c"]),           # streaming_lm_scores
    "tokens": ("set", ["tok"], []),                    # streaming_lm_scores
    "bands": ("rows", [], []),                         # incremental_similar_pairs
    "shingles": ("rows", [], []),                      # incremental_similar_pairs
    "pairs": ("rows", [], []),                         # incremental_similar_pairs
}

_FOLD_AGGS = {"sum": F.sum, "or": F.bit_or}


@dataclass(frozen=True)
class _StateDir:
    """Paths and batch_id-partitioned logs under one job's state dir."""

    spark: SparkSession
    root: str

    def path(self, name: str) -> str:
        return fs_join(self.root, name)

    def write(
        self, log: str, df: DataFrame, batch_id: int, *partition_cols: str
    ) -> None:
        """Idempotent per-batch write: the batch lands in its own
        ``batch_id=`` partition and dynamic overwrite replaces exactly
        that partition on replay."""
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", *partition_cols)
            .parquet(self.path(log))
        )

    def read(self, log: str) -> DataFrame:
        return self.spark.read.parquet(self.path(log))

    def fold(self, log: str) -> DataFrame:
        """The one fold of ``log``'s partitions, per ``_LOG_SPECS``."""
        kind, group_cols, value_cols = _LOG_SPECS[log]
        df = self.read(log)
        if kind == "set":
            return df.select(*group_cols).distinct()
        if kind == "rows":
            return df.drop("batch_id")
        agg = _FOLD_AGGS[kind]
        return df.groupBy(*group_cols).agg(*[agg(c).alias(c) for c in value_cols])


def _init_or_verify_split_state(
    state: _StateDir,
    split_dir: str,
    source: DataFrame,
    meta: dict,
    label: str,
    verify: Callable[[Row], None] | None,
) -> None:
    """Write ``meta`` as the one-row ``source_meta`` and then ``source``
    as a 4-file split, or check a committed split's stored meta: missing
    or empty is corrupt state; otherwise ``verify(row)`` raises on a
    mismatch (by default the stored ``fingerprint`` must equal
    ``meta``'s).

    fs_exists/fs_join, not os.path: a remote (s3a/hdfs) state_dir
    would probe False locally and re-split the source out from under
    the committed checkpoint offsets."""
    spark, state_dir = state.spark, state.root
    meta_path = state.path("source_meta")
    if not fs_exists(spark, fs_join(split_dir, "_SUCCESS")):
        spark.createDataFrame(
            [tuple(meta.values())], list(meta)
        ).coalesce(1).write.mode("overwrite").parquet(meta_path)
        source.repartition(4).write.mode("overwrite").parquet(split_dir)
        return
    if not fs_exists(spark, meta_path):
        raise ValueError(
            f"state_dir {state_dir!r} is corrupt: the stored split is "
            f"committed but its source_meta is missing, so a wrong-corpus "
            f"resume of this {label} would be undetectable — rebuild with "
            "a fresh state_dir"
        )
    row = spark.read.parquet(meta_path).first()
    if row is None:
        raise ValueError(
            f"state_dir {state_dir!r} is corrupt: source_meta is empty — "
            f"rebuild this {label} with a fresh state_dir"
        )
    if verify is not None:
        verify(row)
    elif row.fingerprint != meta["fingerprint"]:
        raise ValueError(
            f"state_dir {state_dir!r} holds a {label} built from "
            f"{row.fingerprint!r}; refusing to resume it as "
            f"{meta['fingerprint']!r} — use a fresh state_dir per corpus"
        )


def _run_state_dir_job(
    spark: SparkSession,
    state_dir: str | None,
    source: DataFrame,
    meta: dict,
    label: str,
    process_batch: Callable[[_StateDir, DataFrame, int], None],
    read_back: Callable[[_StateDir], object],
    split: str = "docs_split",
    verify: Callable[[Row], None] | None = None,
):
    """The frame of every state-dir job (the module docstring states its
    contract): own a temp state dir when the caller gives none,
    fingerprint ``source`` and split it under the state dir, drain the
    split one file per trigger through ``process_batch(state, batch_df,
    batch_id)``, and return ``read_back(state)``.  A DataFrame result
    passes the ``_materialize`` barrier first, so nothing in it reads
    the state dir once a temp one is removed."""
    own_state = state_dir is None
    if own_state:
        state_dir = tempfile.mkdtemp(prefix="stream_state_")
    state = _StateDir(spark, state_dir)
    split_dir = state.path(split)
    try:
        _init_or_verify_split_state(state, split_dir, source, meta, label, verify)
        stream = (
            spark.readStream.format("parquet")
            .schema(source.schema)
            .option("maxFilesPerTrigger", 1)
            .load(split_dir)
        )
        query = (
            stream.writeStream.foreachBatch(
                lambda batch_df, batch_id: process_batch(state, batch_df, batch_id)
            )
            .option("checkpointLocation", state.path("_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        result = read_back(state)
        if isinstance(result, DataFrame):
            result = _materialize(result, None)
    finally:
        if own_state:
            shutil.rmtree(state_dir, ignore_errors=True)
    return result


def _drain(
    df: DataFrame, name: str, output_mode: str, progress_out: list | None = None
) -> DataFrame:
    """Run the streaming ``df`` into the memory sink ``name`` with
    AvailableNow until its source is drained; return the sink table.
    ``progress_out`` (a list) is extended with the query's
    recentProgress dicts."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if progress_out is not None:
        progress_out.extend(p for p in query.recentProgress if p is not None)
    return df.sparkSession.table(name)


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet with an event-time column.

    The nanos timestamp surfaces either as int64 nanos (legacy
    nanosAsLong conf honored) or as TIMESTAMP_NTZ (newer parquet
    readers infer NANOS natively, truncated to micros) — both shapes
    convert to the identical micros value, matching the batch path's
    ts_us exactly (see sources/tables.py).

    ``max_files_per_trigger`` splits the drain into one-file micro-
    batches (files ordered by modification time) — the watermark then
    ADVANCES between batches, which is what lets tests (and production
    replays) exercise real late-data semantics; the default drains
    everything in one batch, where a first-batch watermark of -inf
    admits every row.

    Directory-layout contract: the default (single-batch) path streams
    EXACTLY ``events.parquet`` — the file the batch twin reads — so a
    stray events-prefixed parquet in the sf dir (stale batch output,
    test leftovers) cannot silently break stream-equals-batch parity.
    Only when ``max_files_per_trigger`` requests a multi-batch replay
    does the glob widen to ``events*.parquet``, admitting the extra
    time-ordered ``events_*.parquet`` batch files the replay dir
    provides (tests/test_streaming.py ``_write_event_batches``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = load_table(spark, sf_dir, "events").drop("ts_us")
    schema = batch.schema
    if dict(batch.dtypes)["ts"] == "bigint":
        ts_us = F.expr("ts div 1000").cast("long")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp")).cast("long")
    # events.parquet is a single file; the streaming file source requires
    # a directory, so stream the sf dir filtered down to events files.
    glob = "events.parquet"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        glob = "events*.parquet"
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        reader = reader.option("latestFirst", "false")
    reader = reader.option("pathGlobFilter", glob)
    return (
        reader.parquet(sf_dir)
        .withColumn("ts_us", ts_us)
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    )


def _hourly_by_type(stream: DataFrame, watermark: str, *aggs) -> DataFrame:
    """(event_type, hour_epoch, *aggs) over watermarked tumbling 1h
    event-time windows per event_type."""
    windowed = (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour").alias("w"), F.col("event_type"))
        .agg(*aggs)
    )
    return windowed.select(
        "event_type",
        F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
        *windowed.columns[2:],
    )


def streaming_hourly_rollup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Tumbling 1h per-type counts/sums, computed as a STREAM and drained
    to completion with AvailableNow.  Returns the final result DataFrame
    (same schema/values as plans/events.hourly_rollup minus the distinct-
    user count, which streaming aggregation doesn't support exactly).

    Watermark contract, exercised with actually-late rows by
    tests/test_streaming.py::
    test_append_rollup_drops_late_rows_and_withholds_open_windows: in
    ``output_mode='append'`` — the production mode for an unbounded
    stream — a window is emitted ONCE, when the watermark passes its
    end, its state is then evicted, and any later event whose event
    time is below the watermark is DROPPED (Spark filters late rows
    against the PREVIOUS micro-batch's watermark —
    eventTimeWatermarkForLateEvents — so the drop engages one batch
    after the advance; state ~ rate x watermark, independent of stream
    length; boundedness asserted from the stateOperators metrics in
    the same test via ``progress_out``);
    windows still open at the end of an AvailableNow drain are
    withheld.  The default ``'complete'`` mode re-emits the full result
    each batch and keeps all state — exact on a finite drain (the
    batch-parity oracle path), unbounded on an infinite stream.

    ``progress_out``: see :func:`_drain`; its state-store numRowsTotal
    is how a test or a monitor verifies that eviction bounds state."""
    agg = _hourly_by_type(
        _events_stream(spark, sf_dir, max_files_per_trigger),
        watermark,
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,9)")).cast("double").alias("sum_value"),
    )
    return _drain(agg, "streaming_hourly", output_mode, progress_out)


def streaming_hourly_users(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours", rsd: float = 0.005
) -> DataFrame:
    """Tumbling 1h per-type DISTINCT-USER counts as a stream.

    Streaming aggregation cannot do exact COUNT(DISTINCT) (state would be
    unbounded per group), which is why ``streaming_hourly_rollup`` drops
    the distinct-user column its batch twin has.  The HLL++ sketch
    (``approx_count_distinct``) IS streaming-legal — its state is one
    fixed-size sketch per group — so this variant converges the streaming
    and batch surfaces.  rsd=0.005 (2^16 registers) puts every
    per-(type,hour) group in the linear-counting regime with zero
    register collisions on this corpus (verified exact at sf0.001 AND
    sf0.01 — deterministic, because the hashed user-id set is fixed; at
    rsd=0.02 four groups under-counted by one).  The register count is
    the state-size/accuracy knob: ~48 KB per open group here, a fraction
    of that at the coarser default a production job would pick.  The
    statistical bound for arbitrary data is asserted in
    tests/test_sketches.py.
    """
    agg = _hourly_by_type(
        _events_stream(spark, sf_dir),
        watermark,
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.count("*").alias("n_events"),
    )
    return _drain(agg, "streaming_hourly_users", "complete")


def streaming_view_click_join(
    spark: SparkSession,
    sf_dir: str,
    range_hours: int = 6,
    watermark: str = "12 hours",
    state_partitions: int | None = None,
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each view paired with the
    same user's clicks in the following ``range_hours`` — the attribution
    join every event pipeline runs, in its incremental form.

    Both sides carry a watermark and the join predicate bounds
    click_time to [view_time, view_time + range], so Spark can expire
    buffered state: a view older than watermark + range can never match
    a future click and is evicted.  State is therefore bounded by the
    event rate x (watermark + range) regardless of total stream length —
    the property that makes this runnable forever at 100 TB/day.  The
    batch twin (and oracle) is the identical plain interval join.

    ``state_partitions`` pins the number of state stores for this query
    (a stateful query's partitioning is fixed at first start).  Each
    store carries fixed per-batch overhead, so size it to the job's
    real parallelism: cluster cores in production, a handful for a
    small local drain (32 stores on the test corpus is pure overhead —
    measured 6.5 s -> 2.8 s at sf0.1 going 32 -> 8).  None = session
    default.
    """

    def side(event_type: str, user_col: str) -> DataFrame:
        # (user, <type>_id, <type>_ts_us, <type>_time) for one event type
        return (
            _events_stream(spark, sf_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user_col),
                F.col("event_id").alias(f"{event_type}_id"),
                F.col("ts_us").alias(f"{event_type}_ts_us"),
                F.col("event_time").alias(f"{event_type}_time"),
            )
            .withWatermark(f"{event_type}_time", watermark)
        )

    joined = side("view", "user_id").join(
        side("click", "c_user_id"),
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_time") >= F.col("view_time"))
        & (
            F.col("click_time")
            <= F.col("view_time") + F.expr(f"INTERVAL {int(range_hours)} HOURS")
        ),
    ).select("user_id", "view_id", "click_id", "view_ts_us", "click_ts_us")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return _drain(joined, "streaming_view_clicks", "append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "24 hours",
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each event_id wins,
    state bounded by the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` — NOT plain
    ``dropDuplicates``: with the latter, the watermarked event-time
    column is not part of the dedup key, so Spark never evicts dedup
    state (state grows with distinct ids forever, and a post-horizon
    duplicate is still suppressed).  The WithinWatermark form keys
    eviction on first-seen event time + horizon, which is the contract
    documented here.

    The horizon IS the guarantee (both edges exercised with
    actually-late rows by tests/test_streaming.py::
    test_streaming_dedup_readmits_after_horizon_and_drops_late, state
    boundedness by ::test_streaming_dedup_state_is_bounded): a
    duplicate id arriving within ``watermark`` of the original's event
    time is suppressed; one arriving after the watermark has passed
    the original's event time + horizon may be re-admitted — its dedup
    state was evicted (that eviction is what keeps state ~ rate x
    watermark instead of growing with the stream) — and a row whose
    OWN event time is already below the watermark is dropped as late
    rather than emitted.

    ``progress_out``: see :func:`_drain`; its stateOperators
    numRowsTotal is what the boundedness test asserts on."""
    stream = _events_stream(spark, sf_dir, max_files_per_trigger)
    deduped = (
        stream.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts_us")
    )
    return _drain(deduped, "streaming_dedup", "append", progress_out)


def incremental_similar_pairs(
    spark: SparkSession,
    sf_dir: str,
    cfg,
    threshold: float | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs discovered incrementally: stream the documents in
    micro-batches via foreachBatch and run each through the band store's
    stateful-ingest core (operators/bandstore.py): the same per-batch
    step (shingle, sign, band), signature-spec guard and candidate-only
    verify.  Demonstrates the batch/streaming unification.

    State lives entirely OFF the driver, in three parquet logs under
    ``state_dir`` (each batch's band keys, its shingle strings, and the
    verified pairs), under the module docstring's state-dir contract;
    the fingerprint is the corpus path and the signature spec.  On a
    cluster, point ``state_dir`` at durable storage (S3/HDFS).

    Each document belongs to exactly one batch, and a pair (a, b) is
    verified exactly once — at the later of its two docs' batches, by
    one band join of the batch against itself and every earlier batch —
    so the output needs no cross-batch dedup.  The verify broadcasts the
    candidates' ids into the shingle log, so only candidate documents'
    shingles reach an exchange.  The pairs log keeps every verified candidate with its
    ``jaccard``, and ``threshold`` filters on read, so a resumed state
    answers any threshold as a fresh run would.  (A state written before
    the log kept every candidate holds only the pairs at or above the
    threshold of the run that wrote each batch.)

    The state needs map-side shingle ids ('md5' or 'xxhash'
    ``id_strategy``): a cfg naming 'rank' is refused before any state is
    read or written, as the band store refuses it."""
    spec, _ = _guard_spec(cfg, "state_format", "incremental_similar_pairs")
    threshold = cfg.threshold if threshold is None else threshold

    def verify(row: Row) -> None:
        if row.sf_dir != sf_dir:
            raise ValueError(
                f"state_dir {state_dir!r} was built from {row.sf_dir!r}; "
                f"refusing to resume it against {sf_dir!r} — use a fresh "
                "state_dir per corpus"
            )
        _guard_spec(
            cfg, "state_format", f"state_dir {state_dir!r}",
            lambda: getattr(row, "signature_spec", None),
        )

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        with _batch_step(batch_df, cfg) as (sh, _, bands):
            state.write("shingles", sh, batch_id)
            state.write("bands", bands, batch_id)
            # This batch against itself and every earlier batch (the
            # compacted history included): cross and intra pairs in one
            # join.
            upto = state.read("bands").where(F.col("batch_id") <= batch_id)
            cand = (
                bands.alias("a")
                .join(upto.alias("b"), ["band", "band_key"])
                .where(F.col("a.doc_id") != F.col("b.doc_id"))
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("doc_id_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_id_b"),
                )
                .distinct()
            )
            state.write(
                "pairs", _verify(cand, (state.fold("shingles"),)), batch_id
            )

    def read_back(state: _StateDir) -> DataFrame:
        return (
            state.fold("pairs")
            .where(F.col("jaccard") >= threshold)
            .select("doc_id_a", "doc_id_b", "jaccard")
        )

    # n_docs is never read; -1 keeps the column (and its type) that
    # metas written with the corpus count carry.
    return _run_state_dir_job(
        spark, state_dir, load_table(spark, sf_dir, "documents"),
        {"sf_dir": sf_dir, "n_docs": -1, "signature_spec": spec},
        "incremental pair state", process_batch, read_back, verify=verify,
    )


def streaming_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int = 16,
    lloyd_iters: int = 2,
    state_dir: str | None = None,
) -> DataFrame:
    """IVF inverted-list index built INCREMENTALLY: stream the
    embeddings table in micro-batches and assign each batch with a
    quantizer pinned for the stream's life (``operators.ann.ivf_index``
    with stored ``cents`` — the round-9 incremental-ingest path), so
    every batch's list ids land consistent with the accumulated index.

    The quantizer is trained once up front on the corpus's bounded
    deterministic sample — the moral equivalent of "yesterday's index"
    whose centroids a production ingest reuses; retraining per batch
    would silently re-map previously assigned lists (the exact failure
    the ``cents`` parameter exists to prevent).  Each micro-batch's
    ``batch_id=`` partition is sub-partitioned by ``list_id`` so a
    query's probed lists prune to files.  State: the module docstring's
    state-dir contract; the fingerprint pins corpus and quantizer shape.

    Returns (neighbor_id, list_id) for the whole corpus — byte-equal to
    a one-shot batch ``ivf_index`` under the same centroids, which is
    exactly what the DuckDB oracle (the unrolled-Lloyd assignment CTE)
    reproduces."""
    from mapreduce_minhash_lsh_spark.operators.ann import _centroids, ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb, n_lists, lloyd_iters, "vec_id", "embedding")

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        _, corpus = ivf_index(batch_df, cents=cents)
        state.write("index", corpus, batch_id, "list_id")

    def read_back(state: _StateDir) -> DataFrame:
        # list_id comes back from DIRECTORY NAMES (partition-column
        # inference -> int); pin the written long type for the
        # schema-exact oracle compare.
        return state.read("index").select(
            "neighbor_id", F.col("list_id").cast("long").alias("list_id")
        )

    return _run_state_dir_job(
        spark, state_dir, emb,
        {"fingerprint": f"{sf_dir}|n_lists={n_lists}|lloyd_iters={lloyd_iters}"},
        "index", process_batch, read_back, split="emb_split",
    )


def streaming_lm_scores(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
) -> DataFrame:
    """Bigram-LM quality scoring with the LM maintained INCREMENTALLY:
    stream the documents table in micro-batches, log each batch's
    bigram/prefix count DELTAS (and its token set), then score the
    corpus against the folded LM — the continuous-crawl shape of
    operators/lm.py; the oracle is ngram_lm_scores' SQL verbatim.  Roll
    the log up between runs with :func:`compact_state`.  State: the
    module docstring's state-dir contract; the fingerprint is the corpus."""
    from mapreduce_minhash_lsh_spark.operators.lm import (
        BigramLM,
        _doc_bigrams,
        bigram_lm_scores,
    )
    from mapreduce_minhash_lsh_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        bg = _doc_bigrams(batch_df, "text", "doc_id")
        for log, rel in (
            ("counts_bigram", bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))),
            ("counts_prefix", bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c"))),
            (
                "tokens",
                batch_df.where(F.size(tokens(F.col("text"))) >= 2)
                .select(F.explode(tokens(F.col("text"))).alias("tok"))
                .distinct(),
            ),
        ):
            state.write(log, rel, batch_id)

    def read_back(state: _StateDir) -> DataFrame:
        lm = BigramLM(
            bigrams=state.fold("counts_bigram").withColumnRenamed("c", "c_bg"),
            prefixes=state.fold("counts_prefix").withColumnRenamed("c", "c_w1"),
            vocab=state.fold("tokens").agg(F.count("tok").alias("vsz")),
        )
        return bigram_lm_scores(docs, lm=lm)

    return _run_state_dir_job(
        spark, state_dir, docs, {"fingerprint": f"{sf_dir}|bigram_lm"},
        "count log", process_batch, read_back,
    )


def streaming_bloom_words(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> list[int]:
    """Build the benchmark-decontamination Bloom filter INCREMENTALLY:
    stream the documents table in micro-batches, extract each batch's
    benchmark 3-grams (doc_id % 97 == 0 — the same held-out split as
    the batch query), and log the batch's (word, bits) Bloom
    contributions, folded on read with bit_or.  OR is also idempotent,
    so duplicate grams across batches and re-ORed replays are no-ops
    even before the partition overwrite.

    Returns the dense word array (ceil(m_bits/60) longs), ready for
    :func:`operators.bloom.bloom_might_contain` — the production shape:
    the filter updates continuously as new benchmark releases land,
    scoring jobs read the compacted bitmap.  State: the module
    docstring's state-dir contract; the fingerprint pins corpus and
    filter geometry."""
    from mapreduce_minhash_lsh_spark.functions.text import word_ngrams
    from mapreduce_minhash_lsh_spark.operators.bloom import (
        BLOOM_WORD_BITS,
        bloom_positions,
    )

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        toks = F.split(F.col("text"), " ")
        grams = (
            batch_df.where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
            .select(
                F.explode(
                    F.array_distinct(word_ngrams(F.col("text"), 3))
                ).alias("gram")
            )
        )
        pos = grams.select(
            F.explode(
                F.array(*bloom_positions(F.col("gram"), m_bits, k))
            ).alias("pos")
        )
        bits = (
            pos.select(
                (F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("word"),
                (F.col("pos") % BLOOM_WORD_BITS).cast("int").alias("bit"),
            )
            .groupBy("word")
            .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits"))
        )
        state.write("bloom_bits", bits, batch_id)

    def read_back(state: _StateDir) -> list[int]:
        n_words = -(-m_bits // BLOOM_WORD_BITS)
        words = [0] * n_words
        if fs_exists(spark, state.path("bloom_bits")):
            for r in state.fold("bloom_bits").collect():
                words[r["word"]] = r["bits"]
        return words

    return _run_state_dir_job(
        spark, state_dir, load_table(spark, sf_dir, "documents"),
        {"fingerprint": f"{sf_dir}|bloom|{m_bits}|{k}"},
        "Bloom bit log", process_batch, read_back,
    )


def streaming_dsir_logweights(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights with the two hashed-n-gram multinomials
    maintained INCREMENTALLY: stream the documents table in
    micro-batches, log each batch's per-bucket (background count, target
    count) DELTAS, then score the corpus against the folded model
    through operators/dsir.dsir_score_from_counts, the batch operator's
    own scoring path — so the oracle is dsir_logweights' SQL verbatim.
    Each batch's delta relation is bounded by n_buckets rows regardless
    of batch size, so the log grows with BATCH COUNT, not corpus size,
    and :func:`compact_state` bounds that too.  State: the module
    docstring's state-dir contract; the fingerprint pins corpus and
    bucket count."""
    from mapreduce_minhash_lsh_spark.operators.dsir import (
        doc_feature_buckets,
        dsir_score_from_counts,
    )

    docs = load_table(spark, sf_dir, "documents")

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        flagged = batch_df.select(
            F.col("doc_id"),
            F.col("text"),
            (F.col("lang") == "en").alias("_is_t"),
        )
        deltas = (
            doc_feature_buckets(flagged, n_buckets, carry=["_is_t"])
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("c_bg"),
                F.sum(F.col("_is_t").cast("long")).alias("c_tg"),
            )
        )
        state.write("counts_bucket", deltas, batch_id)

    def read_back(state: _StateDir) -> DataFrame:
        return dsir_score_from_counts(docs, state.fold("counts_bucket"), n_buckets)

    return _run_state_dir_job(
        spark, state_dir, docs, {"fingerprint": f"{sf_dir}|dsir|{n_buckets}"},
        "DSIR count log", process_batch, read_back,
    )


def streaming_lang_vocab_sketch(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    m_bits: int = 1 << 14,
) -> DataFrame:
    """Per-language vocabulary cardinality with the linear-counting
    bitmaps maintained INCREMENTALLY: stream the documents table in
    micro-batches, log each batch's (lang, word, bits) contributions,
    fold on read with bit_or, estimate — the continuous-crawl
    vocabulary-growth monitor (Bloom bit log: membership; DSIR count
    log: frequencies; this: cardinality).  The estimate is the batch
    operator's quantized expression, so the oracle is
    lang_vocab_sketch's SQL verbatim.  The bit log is bounded by
    batches x langs x ceil(m/60) rows and never touches the driver.
    State: the module docstring's state-dir contract; the fingerprint
    pins corpus and bitmap size."""
    from mapreduce_minhash_lsh_spark.functions.text import word_ngrams
    from mapreduce_minhash_lsh_spark.operators.cardinality import (
        LC_WORD_BITS,
        lc_bit_position,
        lc_estimate_from_set_bits,
    )

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        toks = F.split(F.col("text"), " ")
        pos = (
            batch_df.where(F.size(toks) >= 3)
            .select(
                "lang",
                F.explode(word_ngrams(F.col("text"), 3)).alias("gram"),
            )
            .select(
                "lang",
                lc_bit_position(F.col("gram"), m_bits).alias("pos"),
            )
        )
        bits = (
            pos.select(
                "lang",
                (F.col("pos") / LC_WORD_BITS).cast("long").alias("word"),
                (F.col("pos") % LC_WORD_BITS).cast("int").alias("bit"),
            )
            .groupBy("lang", "word")
            .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits"))
        )
        state.write("lc_bits", bits, batch_id)

    def read_back(state: _StateDir) -> DataFrame:
        set_bits = state.fold("lc_bits").groupBy("lang").agg(
            F.sum(F.bit_count("bits")).cast("long").alias("n_set_bits")
        )
        return lc_estimate_from_set_bits(set_bits, m_bits, ["lang"])

    return _run_state_dir_job(
        spark, state_dir, load_table(spark, sf_dir, "documents"),
        {"fingerprint": f"{sf_dir}|lc|{m_bits}"},
        "cardinality bit log", process_batch, read_back,
    )


def streaming_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    n_merges: int = 12,
    word_pattern: str | None = None,
    min_count: int = 1,
) -> DataFrame:
    """BPE merge training with the word-frequency table maintained
    INCREMENTALLY: stream the documents table in micro-batches, log each
    batch's per-word count DELTAS, then train on the folded counts — the
    continuous-crawl shape of ``operators/bpe.learn_bpe_merges``.  As new
    crawl lands, the frequency table absorbs it and retraining needs no
    corpus re-scan.  Training goes through
    ``learn_bpe_merges_from_freqs``, the batch operator's own loop, so
    the oracle is ``bpe_learned_merges``' SQL verbatim.  Each batch's
    delta relation is bounded by the BATCH vocabulary;
    :func:`compact_state` bounds the log's growth with batch count.

    State: the module docstring's state-dir contract; the fingerprint
    pins corpus and word_pattern (what the LOG depends on;
    n_merges/min_count are read-side and free to vary across runs on
    the same log)."""
    from mapreduce_minhash_lsh_spark.operators.bpe import (
        _words,
        learn_bpe_merges_from_freqs,
    )

    def process_batch(state: _StateDir, batch_df: DataFrame, batch_id: int) -> None:
        deltas = (
            _words(batch_df, "text", word_pattern)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        state.write("counts_word", deltas, batch_id)

    def read_back(state: _StateDir) -> DataFrame:
        freqs = state.fold("counts_word")
        if min_count > 1:
            freqs = freqs.where(F.col("cnt") >= F.lit(min_count))
        return learn_bpe_merges_from_freqs(freqs, n_merges)

    return _run_state_dir_job(
        spark, state_dir, load_table(spark, sf_dir, "documents"),
        {"fingerprint": f"{sf_dir}|bpe_words|{word_pattern}"},
        "BPE word-count log", process_batch, read_back,
    )


# ---------------------------------------------------------------------------
# Log compaction
# ---------------------------------------------------------------------------

# Row-store compaction output sizing: one output file per this many
# rows (the fold kinds are bounded by their bucket/bitmap geometry and
# always fit one file; the row stores grow with the corpus, and a
# single-file rewrite would both bottleneck on one task and produce an
# oversized file at real scale).
_COMPACT_ROWS_PER_FILE = 4_000_000

_COMPACTED_BATCH_ID = -1  # real micro-batch ids are >= 0, so -1 never collides


def _max_numbered(names: list[str]) -> int:
    return max((int(n) for n in names if n.lstrip("-").isdigit()), default=-1)


def compact_state(spark: SparkSession, state_dir: str) -> dict:
    """Materialize the read-side fold of every batch_id-partitioned log
    under ``state_dir`` into a single ``batch_id=-1`` partition.

    A long-lived ingest otherwise accumulates one directory per
    micro-batch forever: the fold logs' data stays bounded by their
    bucket/bitmap geometry and the row stores of
    ``incremental_similar_pairs`` compact as an identity rewrite, but
    listing cost and small-file count grow with batch count.  Later
    batches land beside the compacted partition and fold with it (the
    incremental job's ``batch_id <= current`` band join includes it).
    Refuses while a batch is pending replay (the module docstring's
    compaction-safety rule); run it between drained AvailableNow runs or
    after a clean stream stop, with a single writer.

    The swap itself is crash-recoverable: the fold is staged to
    ``<log>__compact_tmp``, the live log is renamed aside, the staged
    fold renamed in, then the old log deleted — and any half-finished
    state from a previous crash is rolled forward or discarded on entry.
    (On object stores rename is copy+delete, so the swap window is not
    atomic there — same caveat as upsert_parquet.)

    Returns per-log stats: ``{log: {"partitions_before": N,
    "partitions_after": 1, "rows_before": R, "rows_after": r}}``."""
    cp = fs_join(state_dir, "_checkpoint")
    pending = _max_numbered(
        fs_list_names(spark, fs_join(cp, "offsets"))
    ) > _max_numbered(fs_list_names(spark, fs_join(cp, "commits")))
    if pending:
        raise RuntimeError(
            f"state_dir {state_dir!r} has a micro-batch with a committed "
            "offset but no commit marker — it will be REPLAYED on restart, "
            "and compacting it away first would double-count its deltas in "
            "the sum logs. Drain or cleanly stop the stream, then compact."
        )

    state = _StateDir(spark, state_dir)
    stats: dict[str, dict] = {}
    for log, (kind, _, _) in _LOG_SPECS.items():
        path = state.path(log)
        tmp = path + "__compact_tmp"
        old = path + "__compact_old"
        # Crash recovery from a previous interrupted compaction: the live
        # log is the source of truth whenever it exists (stale tmp/old are
        # discarded); a missing live log with a staged tmp means the swap
        # crashed between renames — roll it forward.
        if not fs_exists(spark, path):
            if fs_exists(spark, tmp):
                fs_rename(spark, tmp, path)
                fs_delete(spark, old)
            elif fs_exists(spark, old):
                fs_rename(spark, old, path)
            else:
                continue  # log never written (job produced no rows yet)
        else:
            fs_delete(spark, tmp)
            fs_delete(spark, old)

        parts_before = len(
            [n for n in fs_list_names(spark, path) if n.startswith("batch_id=")]
        )
        rows_before = state.read(log).count()
        folded = state.fold(log)
        if kind == "rows":
            n_files = max(1, -(-rows_before // _COMPACT_ROWS_PER_FILE))
            folded = folded.repartition(n_files)
        (
            folded.withColumn("batch_id", F.lit(_COMPACTED_BATCH_ID))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )
        rows_after = spark.read.parquet(tmp).count()
        fs_rename(spark, path, old)
        fs_rename(spark, tmp, path)
        fs_delete(spark, old)
        stats[log] = {
            "partitions_before": parts_before,
            "partitions_after": 1,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }
    return stats
