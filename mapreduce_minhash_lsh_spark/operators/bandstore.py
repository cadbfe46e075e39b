"""Persistent LSH band store: the production shape of cross-corpus dedup.

``similarity.cross_corpus_pairs`` recomputes the seen side's shingles,
signatures, and bands on every call — fine for a one-shot batch, wasteful
for a corpus that is ingested against daily.  This module persists those
three relations as parquet tables once and lets every subsequent ingest
read them:

    store/
      shingle_ids/   (doc_id, sid)        8-byte md5-derived shingle ids
                                          (not the strings — the verify
                                          join only ever needs the ids)
      signatures/    (doc_id, sig)        array<long> signatures under
                                          cfg.sig_strategy
      bands/         (doc_id, band, band_key)   60-bit md5 band keys
                                          (``lsh.compact_band_keys``,
                                          whatever cfg.band_key_strategy
                                          says)

``build_band_store`` is also the EXTEND and RE-INGEST operation, keyed
on doc_id: one probe finds the batch ids already stored, only those are
pruned from the three tables, and the batch's rows are appended.  A
fresh batch therefore costs O(batch): other documents' rows are never
rewritten, and each extend adds one file set per table (compact with
``sources.tables.compact_parquet`` into a sibling directory, then
swap).  Appends write ``signatures`` first and prunes delete it last,
so a build re-run after a crash ends as a clean build would.

This module holds the one stateful-ingest core, which
``streaming/jobs.incremental_similar_pairs`` shares with the store: one
per-batch step (shingle, sign, band: :func:`_batch_step`), one
signature-spec guard (``minhash._guard_spec``) and one candidate-only
verify (:func:`_verify`).  The stream keeps its own layout (band keys
and shingle strings in ``batch_id``-partitioned logs) and its own band
join, since it pairs each batch with itself as well as with its state.

Per-ingest cost of :func:`cross_pairs_against_store`: the new batch's
shingling and signatures, the band equi-join over one scan of the
store's band table, and the store's ``shingle_ids``/``signatures`` rows
of CANDIDATE documents only — those two tables are pruned to the
candidate ids before any exchange.  The band table is the only store
table an ingest reads whole.  Verification is the flagship's own core
(:func:`_verify`): ``similarity.candidate_payload`` builds both sides'
payloads, ``similarity.fused_overlap_counts`` joins them to the
candidates and ``similarity.jaccard`` scores the counts.

Stores need map-side shingle ids ('md5' or 'xxhash' ``id_strategy``):
'rank' ids are ranks in each batch's own vocabulary, so stored and new
signatures would not agree, and the store refuses such a cfg.

At 100 TB the store is the expensive-to-recompute asset: signatures are
N x n_hashes longs and bands N x n_bands rows — both tiny next to the
corpus text they summarize.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.functions.hashing import md5_long
from mapreduce_minhash_lsh_spark.operators.lsh import band_row_pairs, compact_band_keys
from mapreduce_minhash_lsh_spark.operators.minhash import (
    _guard_spec,
    signatures_array,
)
from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
from mapreduce_minhash_lsh_spark.operators.similarity import (
    _materialize,
    candidate_ids,
    candidate_payload,
    fused_overlap_counts,
    jaccard,
)
from mapreduce_minhash_lsh_spark.sources.fs import fs_exists
from mapreduce_minhash_lsh_spark.sources.tables import delete_from_parquet


def _check_or_write_spec(
    spark: SparkSession, store_dir: str, cfg: MinHashLSHConfig, write: bool
) -> None:
    """Record the cfg's signature spec in the store on first build; on
    every later build/extend/query, refuse a cfg that
    ``minhash._guard_spec`` refuses ('rank' ids, a pre-format OPH store,
    another spec).  The probe goes through the Hadoop FileSystem API
    (``fs_exists``), not ``os.path.exists``, which is always False for
    non-local store URIs (S3/HDFS) and would silently disarm the guard:
    reads would skip validation and a build would overwrite ``_spec``
    with the new cfg's spec, masking the very mismatch the guard exists
    to catch."""
    spec_path = f"{store_dir}/_spec"

    def read_stored() -> str | None:
        if not fs_exists(spark, spec_path):
            return None
        return spark.read.parquet(spec_path).first().spec

    spec, stored = _guard_spec(
        cfg, "store_format", f"band store {store_dir!r}", read_stored
    )
    if write and stored is None:
        spark.createDataFrame([(spec,)], ["spec"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(spec_path)


@contextmanager
def _batch_step(
    docs: DataFrame, cfg: MinHashLSHConfig, checkpoint_dir: str | None = None
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """The one per-batch step of stateful ingest (the store's build and
    query, the incremental streaming job): ``(sh, sig, bands)`` of
    ``docs`` — the cached (doc_id, shingle) relation, the materialized
    ``signatures_array`` and its ``compact_band_keys``.  The shingle
    cache is released when the block exits."""
    sh = explode_shingles(docs, cfg.k).persist()
    try:
        sig = _materialize(signatures_array(sh, cfg), checkpoint_dir)
        yield sh, sig, compact_band_keys(sig, cfg)
    finally:
        sh.unpersist()


def _verify(
    cands: DataFrame,
    side_a: tuple[DataFrame, ...],
    side_b: tuple[DataFrame, ...] | None = None,
    cfg: MinHashLSHConfig | None = None,
    threshold: float | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) of the candidate pairs ``cands``:
    the one candidate-only verify of stateful ingest.  Both sides'
    distinct candidate ids go out in one broadcast, which
    ``similarity.candidate_payload`` semi-joins into each side's
    (doc_id, shingle | sid[, sig]) relations before any exchange, so a
    side's rows of non-candidate documents never shuffle however large
    its state grows.  ``side_b`` defaults to ``side_a``.  A payload with
    signatures takes the fused prefilter at ``threshold``; without them
    every candidate is scored."""
    # The hint is explicit because a materialized candidate list carries
    # no size statistics (``_reset_stats``), so the planner would
    # otherwise shuffle both sides whole.
    ids = F.broadcast(candidate_ids(cands))
    rel_b = None if side_b is None else candidate_payload(ids, *side_b)
    counts = fused_overlap_counts(
        cands, candidate_payload(ids, *side_a), cfg, threshold,
        checkpoint_dir, rel_b=rel_b,
    )
    return jaccard(counts, threshold)


def build_band_store(
    docs: DataFrame, cfg: MinHashLSHConfig, store_dir: str
) -> None:
    """Create or EXTEND the band store with ``docs``.

    Upserts by doc_id, as probe -> prune -> append.  One probe finds the
    batch ids already in ``signatures`` (the three tables share one
    doc-id set): a left-semi join of the stored doc-id column against
    the broadcast batch ids, one 8-byte id per batch document.  Only if
    some are stored does :func:`prune_band_store` drop them — re-ingest
    rewrites the three tables, as it always did.  Then the batch's
    signatures, shingle ids and bands are APPENDED, in that order, so a
    fresh batch costs O(batch): of the store it reads only the doc-id
    column of ``signatures``, and other documents' rows and files are
    never rewritten.  Calling twice with the same docs is a no-op on
    the result.

    Crash invariant: the appends write ``signatures`` first and the
    prune deletes it last, so an id present in any table is also
    present in ``signatures``.  A build re-run after a crash mid-append
    or mid-prune therefore finds every partial id in the probe,
    re-prunes it, and ends with the same rows as a clean build.

    Each extend adds one file set per table.  To merge them, compact a
    table with ``sources.tables.compact_parquet`` into a sibling
    directory and swap it in.  The store records the cfg's signature
    spec on first build and every later call validates against it
    (mixed-spec state fails fast — see :func:`_check_or_write_spec`).
    """
    spark = docs.sparkSession
    _check_or_write_spec(spark, store_dir, cfg, write=True)
    with _batch_step(docs, cfg) as (sh, sig, bands):
        sids = sh.select("doc_id", md5_long(F.col("shingle")).alias("sid"))
        sig_path = f"{store_dir}/signatures"
        if fs_exists(spark, sig_path):
            # Cached and counted before the prune rewrites
            # ``signatures``, after which a re-read would find nothing.
            # The cache's measured size (at most one id per batch doc)
            # also lets the prune's anti-joins broadcast the ids instead
            # of shuffling the tables.
            stored = (
                spark.read.parquet(sig_path)
                .select("doc_id")
                .join(F.broadcast(sig.select("doc_id")), "doc_id", "left_semi")
                .persist()
            )
            try:
                if stored.count():
                    prune_band_store(spark, store_dir, stored)
            finally:
                stored.unpersist()
        for table, rows in (
            ("signatures", sig),
            ("shingle_ids", sids),
            ("bands", bands),
        ):
            rows.write.mode("append").parquet(f"{store_dir}/{table}")


def load_band_store(
    spark: SparkSession, store_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingle_ids, signatures, bands) as lazy parquet scans."""
    return (
        spark.read.parquet(f"{store_dir}/shingle_ids"),
        spark.read.parquet(f"{store_dir}/signatures"),
        spark.read.parquet(f"{store_dir}/bands"),
    )


def cross_pairs_against_store(
    new_docs: DataFrame,
    cfg: MinHashLSHConfig,
    store_dir: str,
    threshold: float | None = None,
    max_bucket_size: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``similarity.cross_corpus_pairs`` with the seen side read from the
    band store instead of recomputed.  Result is identical to the
    recomputing form (tested).

    Per-ingest cost: the NEW batch's shingling and signatures, one scan
    of the store's band table for the band equi-join, and the store's
    ``shingle_ids``/``signatures`` rows of candidate documents only.  The
    candidate list is materialized once; the distinct candidate ids of
    both sides are broadcast once into the batch's and the store's
    signatures and shingle ids before any exchange — a broadcast of one
    8-byte id per distinct candidate document on either side, never more
    than two per candidate pair, whatever the store's size.  The payloads
    then go through the fused prefilter + exact verify
    (``similarity.fused_overlap_counts``).

    Doc ids must be unique across the store and the new batch.  Sharing
    one id set between the two sides adds no match: a payload row only
    joins the candidate pairs that name it on its own side.
    """
    threshold = cfg.threshold if threshold is None else threshold
    spark = new_docs.sparkSession
    _check_or_write_spec(spark, store_dir, cfg, write=False)
    sids_seen, sig_seen, bands_seen = load_band_store(spark, store_dir)
    with _batch_step(new_docs, cfg, checkpoint_dir) as (sh_new, sig_new, bands):
        cands = _materialize(
            band_row_pairs(bands, bands_seen, max_bucket_size), checkpoint_dir
        )
        pairs = _verify(
            cands, (sh_new, sig_new), (sids_seen, sig_seen), cfg, threshold,
            checkpoint_dir,
        )
    return pairs.withColumnsRenamed({"doc_id_a": "new_id", "doc_id_b": "seen_id"})


def prune_band_store(
    spark: SparkSession, store_dir: str, drop_ids: DataFrame
) -> None:
    """Remove documents from the band store — the other half of the
    store lifecycle (takedown requests, post-dedup pruning).  Each of
    the three tables drops the ids by anti-join; after pruning, a
    store-backed ingest behaves exactly as if the dropped docs had
    never been ingested (tested).  ``drop_ids`` needs a ``doc_id``
    column; absent ids are a no-op.
    """
    # ``signatures`` last: an id stays there until its other rows are
    # gone, so a rerun's probe still sees a half-pruned id.  One call,
    # so the three tables share one materialized id set.
    delete_from_parquet(
        spark,
        [f"{store_dir}/{t}" for t in ("bands", "shingle_ids", "signatures")],
        drop_ids,
        ["doc_id"],
    )
