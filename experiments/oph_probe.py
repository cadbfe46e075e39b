#!/usr/bin/env python3
"""OPH signature schemes vs affine at the replication probe (SCALE.md
§7/§10): same corpus, same banding/verify chain, signature scheme and
densification swapped.  Exact verification makes precision 1 on every
side, so the UNION of the outputs is a ground-truth proxy and per-scheme
recall is measurable directly, alongside CANDIDATE volume (the
densification-quality signal) and wall-clock.

    python3 experiments/oph_probe.py [REPLICAS=10]         # short-doc corpus
    python3 experiments/oph_probe.py --long-docs           # k=5, m >> n regime

Schemes: affine; oph (optimal densification).  The round-4 rotation
densification, whose adjacent-slot correlation inflated candidates ~10x
on short docs, has been removed; its rows stay in
experiments/results_r5.json as the record.

Prints one JSON line so results can be tracked across rounds
(experiments/results_r*.json).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.lsh import banded_pairs
from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
from mapreduce_minhash_lsh_spark.operators.similarity import (
    signature_set_relation,
    similar_pairs,
)
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
    # Materialize to a temp parquet (not localCheckpoint): probe stages
    # drop ALL persisted RDDs between runs, which would truncate a
    # checkpointed corpus's lineage out from under later stages.
    import tempfile

    tmp = tempfile.mkdtemp(prefix="probe_corpus_") + "/docs"
    big.repartition(64).write.mode("overwrite").parquet(tmp)
    return base, spark.read.parquet(tmp)


SCHEMES = [
    ("affine", dict(sig_strategy="affine")),
    ("oph_optimal", dict(sig_strategy="oph")),
]


def short_doc_probe(replicas: int) -> dict:
    spark = get_spark(app_name="oph-probe")
    spark.range(1).count()
    base, big = _replicated(spark, replicas)
    n_docs = big.count()
    out = {"mode": "short_docs_k3", "replicas": replicas, "docs": n_docs,
           "schemes": {}}
    pair_sets = {}
    for name, kw in SCHEMES:
        cfg = MinHashLSHConfig(
            num_hashes=128, num_bands=8, threshold=0.8,
            id_strategy="xxhash", band_key_strategy="xxhash", **kw,
        )
        similar_pairs(base, cfg).count()  # warm generated code
        _drop_all_persisted(spark)
        t0 = time.perf_counter()
        rel = signature_set_relation(explode_shingles(big, cfg.k), cfg)
        n_cands = banded_pairs(rel, cfg).count()
        t_cand = round(time.perf_counter() - t0, 1)
        _drop_all_persisted(spark)
        t0 = time.perf_counter()
        pairs = {
            (r.doc_id_a, r.doc_id_b) for r in similar_pairs(big, cfg).collect()
        }
        wall = round(time.perf_counter() - t0, 1)
        _drop_all_persisted(spark)
        pair_sets[name] = pairs
        out["schemes"][name] = {
            "candidates": n_cands,
            "candidate_stage_sec": t_cand,
            "verified_pairs": len(pairs),
            "pipeline_sec": wall,
        }
    union = set().union(*pair_sets.values())
    out["union"] = len(union)
    for name in pair_sets:
        out["schemes"][name]["recall_vs_union"] = round(
            len(pair_sets[name]) / len(union), 4
        ) if union else 1.0
    spark.stop()
    return out


def long_doc_probe() -> dict:
    """m >> n regime: 8 source docs concatenated per synthetic doc and
    k=5 char shingles (m ~ 1 400 distinct shingles vs n=128 — full
    bucket occupancy), one j~0.97 replica per doc so every doc has
    exactly one true partner."""
    spark = get_spark(app_name="oph-probe-long")
    spark.range(1).count()
    base = (
        load_table(spark, "/root/testdata/sf0.1", "documents")
        .groupBy((F.col("doc_id") % 625).alias("doc_id"))
        .agg(F.concat_ws(" ", F.collect_list("text")).alias("text"))
    )
    import tempfile

    tmp = tempfile.mkdtemp(prefix="probe_corpus_") + "/docs"
    base.unionByName(
        base.select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" copyX")).alias("text"),
        )
    ).write.mode("overwrite").parquet(tmp)
    big = spark.read.parquet(tmp)
    n_docs = big.count()
    k = 5
    sh = explode_shingles(big, k)
    avg_m = sh.groupBy("doc_id").count().agg(F.avg("count")).first()[0]
    out = {"mode": "long_docs_k5", "docs": n_docs,
           "avg_shingles_per_doc": round(avg_m, 1), "schemes": {}}
    pair_sets = {}
    for name, kw in SCHEMES:
        cfg = MinHashLSHConfig(
            num_hashes=128, num_bands=8, threshold=0.8, k=k,
            id_strategy="xxhash", band_key_strategy="xxhash", **kw,
        )
        _drop_all_persisted(spark)
        t0 = time.perf_counter()
        rel = signature_set_relation(explode_shingles(big, cfg.k), cfg)
        n_cands = banded_pairs(rel, cfg).count()
        t_cand = round(time.perf_counter() - t0, 1)
        _drop_all_persisted(spark)
        pairs = {
            (r.doc_id_a, r.doc_id_b) for r in similar_pairs(big, cfg).collect()
        }
        _drop_all_persisted(spark)
        pair_sets[name] = pairs
        out["schemes"][name] = {
            "candidates": n_cands,
            "candidate_stage_sec": t_cand,
            "verified_pairs": len(pairs),
        }
    union = set().union(*pair_sets.values())
    out["union"] = len(union)
    for name in pair_sets:
        out["schemes"][name]["recall_vs_union"] = round(
            len(pair_sets[name]) / len(union), 4
        ) if union else 1.0
    spark.stop()
    return out


def main() -> None:
    if "--long-docs" in sys.argv:
        print(json.dumps(long_doc_probe()))
        return
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    replicas = int(args[0]) if args else 10
    print(json.dumps(short_doc_probe(replicas)))


if __name__ == "__main__":
    main()
