"""Band-store ingest: cache release, store-size independence of the
query's shuffle and of the extend's, crash reruns of the extend, OPH
signatures in the store, the stored band-key format and the refusal of
'rank' ids."""

from __future__ import annotations

import dataclasses
import json
import random
import string
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.functions.hashing import md5_long
from mapreduce_minhash_lsh_spark.operators.bandstore import (
    build_band_store,
    cross_pairs_against_store,
)
from mapreduce_minhash_lsh_spark.operators.lsh import band_keys
from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
from mapreduce_minhash_lsh_spark.operators.similarity import (
    cross_corpus_pairs,
    signature_set_relation,
)
from tests.conftest import job_counters

CFG = MinHashLSHConfig(
    num_hashes=32, num_bands=8, threshold=0.5, seed=3, id_strategy="md5"
)


def _corpus(
    spark, n_seen: int, n_extra: int = 0, seed: int = 11, vocab: int = 400
):
    """(seen, new) DataFrames.  Seen docs are lowercase word soup over
    ``vocab`` words (a small vocabulary makes unrelated docs overlap, so
    many candidates sit near the threshold); every
    other one has a near-copy in the new batch (two words replaced), and
    the batch also holds unrelated docs.  The ``n_extra`` seen docs
    (ids after the first ``n_seen``) are digit strings: no character
    shingle in common with any other doc, so they never become
    candidates."""
    rng = random.Random(seed)
    words = [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 8)))
        for _ in range(vocab)
    ]

    def soup() -> list[str]:
        return [rng.choice(words) for _ in range(rng.randint(30, 50))]

    seen = [soup() for _ in range(n_seen)]
    new = []
    for i in range(0, n_seen, 2):
        t = list(seen[i])
        for _ in range(2):
            t[rng.randrange(len(t))] = rng.choice(words)
        new.append((100_000 + i, " ".join(t)))
    new += [(200_000 + i, " ".join(soup())) for i in range(n_seen // 4)]
    seen_rows = [(i, " ".join(t)) for i, t in enumerate(seen)]
    seen_rows += [
        (n_seen + i, " ".join(str(rng.randrange(10**6)) for _ in range(40)))
        for i in range(n_extra)
    ]
    return (
        spark.createDataFrame(seen_rows, "doc_id long, text string"),
        spark.createDataFrame(new, "doc_id long, text string"),
    )


def _rows(df) -> list[tuple]:
    return sorted((r.new_id, r.seen_id, r.jaccard) for r in df.collect())


def _fail_writes_to(monkeypatch, table: str) -> None:
    """Make every parquet write whose path ends in ``/<table>`` raise, as a
    crash at that point of a build would."""
    write = DataFrameWriter.parquet

    def fail(self, path, *a, **k):
        if path.endswith(f"/{table}"):
            raise RuntimeError("upsert failed")
        return write(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail)


def _tables(spark, store: str) -> dict[str, Counter]:
    """Each store table as a multiset of rows (arrays as tuples)."""
    return {
        t: Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(f"{store}/{t}").collect()
        )
        for t in ("shingle_ids", "signatures", "bands")
    }


def _files(store: str) -> set[str]:
    return {
        str(p.relative_to(store))
        for p in Path(store).rglob("*.parquet")
    }


def test_band_store_releases_shingle_cache(spark, tmp_path, monkeypatch):
    """Building and querying the store persist the shingle relation for
    the call only: no non-checkpoint persisted RDD outlives either call,
    also when the build fails after the persist.  Local-checkpoint RDDs
    (the eager results) are excluded — driver GC frees them with the
    result."""

    def persisted() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return {r.id() for r in rdds if not r.isCheckpointed()}

    seen, new = _corpus(spark, 40)
    store = str(tmp_path / "store")
    before = persisted()
    build_band_store(seen, CFG, store)
    assert persisted() - before == set()
    assert cross_pairs_against_store(new, CFG, store).count() > 0
    assert persisted() - before == set()

    _fail_writes_to(monkeypatch, "shingle_ids")  # the second append
    with pytest.raises(RuntimeError, match="upsert failed"):
        build_band_store(new, CFG, store)
    assert persisted() - before == set()


def test_store_query_shuffle_does_not_grow_with_store(spark, tmp_path):
    """The same batch against a store of N seen docs and one of 4N, whose
    extra 3N docs share no shingle with anything: the candidates are the
    same, so the output is identical and the query shuffles within 1.25x
    of the small store's bytes — the store's shingle ids and signatures
    are read at candidate docs only.  Regrouping the whole store (the
    former verify) shuffled 2x more on the large store."""
    n = 60
    seen, new = _corpus(spark, n)
    seen4, _ = _corpus(spark, n, n_extra=3 * n)
    small, large = str(tmp_path / "small"), str(tmp_path / "large")
    build_band_store(seen, CFG, small)
    build_band_store(seen4, CFG, large)

    out_small, out_large = [], []
    _, bytes_small = job_counters(
        spark, lambda: out_small.extend(_rows(cross_pairs_against_store(new, CFG, small)))
    )
    _, bytes_large = job_counters(
        spark, lambda: out_large.extend(_rows(cross_pairs_against_store(new, CFG, large)))
    )
    assert out_small == out_large
    assert len(out_small) >= n // 4
    assert bytes_large <= 1.25 * bytes_small, (bytes_small, bytes_large)
    # reliable checkpoints in place of local ones change nothing
    reliable = cross_pairs_against_store(
        new, CFG, large, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert _rows(reliable) == out_large


def test_extend_rerun_after_partial_append_equals_clean_build(
    spark, tmp_path, monkeypatch
):
    """A build that fails after its ``signatures`` append leaves the
    batch's ids in ``signatures`` only; rerunning it probes them, prunes
    them and appends again, ending with the same rows as a build that
    never failed.  The batch holds fresh documents and re-ingested
    ones, so the rerun exercises the prune as well as the append."""
    seen, new = _corpus(spark, 40)
    batch = new.unionByName(seen.where(F.col("doc_id") % 3 == 0))
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for store in (clean, crashed):
        build_band_store(seen, CFG, store)
    build_band_store(batch, CFG, clean)

    with monkeypatch.context() as m:
        _fail_writes_to(m, "shingle_ids")
        with pytest.raises(RuntimeError, match="upsert failed"):
            build_band_store(batch, CFG, crashed)
    partial = _tables(spark, crashed)
    want = _tables(spark, clean)
    assert partial["signatures"] == want["signatures"]
    assert partial["bands"] != want["bands"]
    build_band_store(batch, CFG, crashed)
    assert _tables(spark, crashed) == want


def test_reingest_keeps_each_row_once(spark, tmp_path, monkeypatch):
    """Re-ingesting a subset of the stored documents leaves every table
    with each id's rows exactly once — the probe must hold the stored
    ids until the last table is pruned — and so does a rerun after a
    crash between the prune's last two tables."""
    seen, _ = _corpus(spark, 40)
    subset = seen.where(F.col("doc_id") % 3 == 0)
    clean, store = str(tmp_path / "clean"), str(tmp_path / "store")
    build_band_store(seen, CFG, clean)
    want = _tables(spark, clean)
    build_band_store(seen, CFG, store)
    build_band_store(subset, CFG, store)
    assert _tables(spark, store) == want

    with monkeypatch.context() as m:
        _fail_writes_to(m, "signatures__staging")  # the prune's last delete
        with pytest.raises(RuntimeError, match="upsert failed"):
            build_band_store(subset, CFG, store)
    partial = _tables(spark, store)
    assert partial["signatures"] == want["signatures"]
    assert partial["bands"] != want["bands"]
    build_band_store(subset, CFG, store)
    assert _tables(spark, store) == want


def test_store_extend_does_not_rewrite_the_store(spark, tmp_path):
    """Extending an N-doc store and a 4N-doc store with the same fresh
    batch shuffles within 1.25x of the same bytes, and every parquet file
    that existed before the extend is still there afterwards: the extend
    writes the batch and reads the store's doc ids only.  Rewriting
    each table through a merge (the former upsert) replaced every file
    and shuffled the whole store."""
    n = 60
    seen, new = _corpus(spark, n)
    seen4, _ = _corpus(spark, n, n_extra=3 * n)
    shuffled = []
    for docs, name in ((seen, "small"), (seen4, "large")):
        store = str(tmp_path / name)
        build_band_store(docs, CFG, store)
        before = _files(store)
        _, nbytes = job_counters(spark, lambda: build_band_store(new, CFG, store))
        shuffled.append(nbytes)
        assert before < _files(store)
    small, large = shuffled
    assert large <= 1.25 * small, (small, large)


def test_oph_band_store_matches_recomputing_cross_corpus(spark, tmp_path):
    """Under sig_strategy='oph' the store holds OPH signatures — the
    bytes ``signature_set_relation`` computes — and the store-backed
    query returns exactly what the recomputing cross-corpus join does.
    The corpus's small vocabulary puts many pairs near the threshold,
    where affine and OPH signatures pick different candidates."""
    cfg = dataclasses.replace(CFG, sig_strategy="oph", threshold=0.6)
    seen, new = _corpus(spark, 80, vocab=30)
    store = str(tmp_path / "store")
    build_band_store(seen, cfg, store)

    stored = {
        r.doc_id: r.sig for r in spark.read.parquet(f"{store}/signatures").collect()
    }
    want_sig = {
        r.doc_id: r.sig
        for r in signature_set_relation(explode_shingles(seen, cfg.k), cfg).collect()
    }
    assert stored == want_sig

    want = sorted(
        (r.new_id, r.seen_id, r.jaccard)
        for r in cross_corpus_pairs(new, seen, cfg).collect()
    )
    assert len(want) >= 15
    assert _rows(cross_pairs_against_store(new, cfg, store)) == want


def test_legacy_oph_band_store_is_refused(spark, tmp_path):
    """An OPH store written before the store-format marker holds affine
    signatures under an 'oph' spec; querying or extending it must fail
    with a rebuild message instead of silently under-matching."""
    cfg = dataclasses.replace(CFG, sig_strategy="oph")
    seen, new = _corpus(spark, 10)
    store = str(tmp_path / "store")
    build_band_store(seen, cfg, store)
    legacy = json.dumps(cfg.signature_spec(), sort_keys=True)
    spark.createDataFrame([(legacy,)], ["spec"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/_spec")
    with pytest.raises(ValueError, match="before store format"):
        cross_pairs_against_store(new, cfg, store)
    with pytest.raises(ValueError, match="before store format"):
        build_band_store(new, cfg, store)
    # the affine spec of the same fields is a plain mismatch, not legacy
    with pytest.raises(ValueError, match="signature spec"):
        cross_pairs_against_store(
            new, dataclasses.replace(cfg, sig_strategy="affine"), store
        )
    assert spark.read.parquet(f"{store}/_spec").first().spec == legacy


@pytest.mark.parametrize("band_key_strategy", ["md5", "xxhash"])
def test_store_band_keys_are_md5_of_string_keys(spark, tmp_path, band_key_strategy):
    """Whatever ``band_key_strategy`` says, the stored band keys are the
    60-bit md5 of ``lsh.band_keys``' comma-joined string keys — the
    format every store has held — and the store query still equals the
    recomputing cross-corpus join under the same cfg."""
    cfg = dataclasses.replace(CFG, band_key_strategy=band_key_strategy)
    seen, new = _corpus(spark, 40)
    store = str(tmp_path / "store")
    build_band_store(seen, cfg, store)

    def rows(df) -> list[tuple]:
        return sorted((r.doc_id, r.band, r.band_key) for r in df.collect())

    strings = band_keys(spark.read.parquet(f"{store}/signatures"), cfg)
    want_bands = strings.select(
        "doc_id", "band", md5_long(F.col("band_key")).alias("band_key")
    )
    assert rows(spark.read.parquet(f"{store}/bands")) == rows(want_bands)

    want = _rows(cross_corpus_pairs(new, seen, cfg))
    assert len(want) >= 10
    assert _rows(cross_pairs_against_store(new, cfg, store)) == want


def test_rank_ids_are_refused(spark, tmp_path):
    """'rank' ids number shingles by each batch's own vocabulary, so a
    store's signatures never agree with a new batch's: building or
    querying a store under them fails and names the map-side id
    strategies, before anything is written."""
    rank = dataclasses.replace(CFG, id_strategy="rank")
    seen, new = _corpus(spark, 10)
    store = tmp_path / "store"
    with pytest.raises(ValueError, match="'md5' or 'xxhash'"):
        build_band_store(seen, rank, str(store))
    assert not store.exists()
    build_band_store(seen, CFG, str(store))
    with pytest.raises(ValueError, match="'md5' or 'xxhash'"):
        cross_pairs_against_store(new, rank, str(store))
