#!/usr/bin/env python3
"""Production-ingest scale probe (r8, VERDICT r7 #5): the band-store
path vs recomputing cross-corpus dedup at a replication scale.

Scenario: a corpus of REPLICAS x sf0.1 documents is the SEEN side; a
10% slice (by doc-id hash) is the NEW crawl to dedup against it.

  * store path   — build_band_store(seen) ONCE (the amortized asset),
                   then cross_pairs_against_store(new): per-ingest work
                   is the new slice's shingles/signatures plus the band
                   equi-join; the seen side costs a parquet scan.
  * recompute    — cross_corpus_pairs(new, seen): re-shingles and
                   re-minhashes the full seen corpus every ingest.

Records build wall (one-time), per-ingest wall for both paths, the
wall of extending the store with the new slice afterwards
(``extend_sec``), store bytes on disk, and asserts both paths emit the
SAME pair count at this scale (the golden test pins byte-equality at
base scale).

    python3 experiments/ingest_probe.py [REPLICAS=40]

Prints one JSON line.
"""
from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.bandstore import (
    build_band_store,
    cross_pairs_against_store,
)
from mapreduce_minhash_lsh_spark.operators.similarity import cross_corpus_pairs
from mapreduce_minhash_lsh_spark.session import get_spark
from mapreduce_minhash_lsh_spark.sources.tables import load_table


def _drop_all_persisted(spark) -> None:
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
    spark.catalog.clearCache()


def _replicated(spark, replicas: int):
    base = load_table(spark, "/root/testdata/sf0.1", "documents")
    parts = [
        base.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            (
                F.concat(F.col("text"), F.lit(f" copy{i}")) if i else F.col("text")
            ).alias("text"),
        )
        for i in range(replicas)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    tmp = tempfile.mkdtemp(prefix="ingest_corpus_") + "/docs"
    big.repartition(64).write.mode("overwrite").parquet(tmp)
    return base, spark.read.parquet(tmp), tmp


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    spark = get_spark(app_name="ingest-probe")
    spark.range(1).count()
    base, big, corpus_tmp = _replicated(spark, replicas)
    # Production strategies, as in the other scale probes.
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    # the NEW crawl: a deterministic 10% slice; SEEN: the other 90%
    slice_col = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10))
    seen = big.where(slice_col != 0)
    new = big.where(slice_col == 0)
    n_seen, n_new = seen.count(), new.count()

    # Warm generated code at base scale (both paths, same plan shapes).
    warm_store = tempfile.mkdtemp(prefix="ingest_store_warm_")
    base_seen = base.where(slice_col != 0)
    base_new = base.where(slice_col == 0)
    build_band_store(base_seen, cfg, warm_store)
    cross_pairs_against_store(base_new, cfg, warm_store).count()
    cross_corpus_pairs(base_new, base_seen, cfg).count()
    shutil.rmtree(warm_store, ignore_errors=True)
    _drop_all_persisted(spark)

    # One-time store build over the SEEN corpus.
    store = tempfile.mkdtemp(prefix="ingest_store_")
    t0 = time.perf_counter()
    build_band_store(seen, cfg, store)
    t_build = round(time.perf_counter() - t0, 1)
    store_bytes = sum(
        f.stat().st_size for f in Path(store).rglob("*") if f.is_file()
    )
    _drop_all_persisted(spark)

    # Per-ingest: store path.
    t0 = time.perf_counter()
    n_pairs_store = cross_pairs_against_store(new, cfg, store).count()
    t_ingest = round(time.perf_counter() - t0, 1)
    _drop_all_persisted(spark)

    # Per-ingest: recompute path.
    t0 = time.perf_counter()
    n_pairs_recompute = cross_corpus_pairs(new, seen, cfg).count()
    t_recompute = round(time.perf_counter() - t0, 1)
    _drop_all_persisted(spark)

    # Extend the store with the new slice, as an ingest does after its
    # query.
    t0 = time.perf_counter()
    build_band_store(new, cfg, store)
    t_extend = round(time.perf_counter() - t0, 1)
    _drop_all_persisted(spark)

    out = {
        "mode": "ingest_store_vs_recompute",
        "replicas": replicas,
        "seen_docs": n_seen,
        "new_docs": n_new,
        "store_build_sec_once": t_build,
        "store_bytes": store_bytes,
        "ingest_sec_store_path": t_ingest,
        "ingest_sec_recompute_path": t_recompute,
        "extend_sec": t_extend,
        "pairs_store_path": n_pairs_store,
        "pairs_recompute_path": n_pairs_recompute,
        "paths_agree": n_pairs_store == n_pairs_recompute,
    }
    print(json.dumps(out))
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(str(Path(corpus_tmp).parent), ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
