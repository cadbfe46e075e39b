#!/usr/bin/env python3
"""Reproducible scaling probe behind SCALE.md §7: replicate the sf0.1
documents corpus REPLICAS-fold (each replica a j~0.97 near-dup of its
original) and measure the flagship pipeline's candidate count, output,
and wall-clock under the production ('xxhash') id strategy.

    python3 experiments/scale_probe.py [REPLICAS=10]
    python3 experiments/scale_probe.py --capped [REPLICAS=10]
        capped-vs-uncapped candidate-path A/B: banded_pairs uncapped vs
        capped under 'drop' and 'auto' at the same probe.
    python3 experiments/scale_probe.py --groups [REPLICAS=160]
        the GROUP-LEVEL flagship at the scale where the pair-list path
        dies (160x: ~67M true pairs exhausted ~70 GB of shuffle-spill
        in the verify payload join — SCALE.md §7).  similar_groups
        verifies ~docs·log(clique) representative edges instead;
        records wall, Borůvka rounds, and edges actually verified.

Prints one JSON line per run so results can be tracked across rounds.
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


def capped_probe(replicas: int) -> None:
    """Capped-vs-uncapped candidate path at the replication probe: the
    production cap policies must not regress the uncapped wall when no
    bucket exceeds the cap region (r4 #1's A/B)."""
    spark = get_spark(app_name="capped-probe")
    spark.range(1).count()
    base, big = _replicated(spark, replicas)
    n_docs = big.count()
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    # Warm generated code at base scale, then materialize the signature
    # relation ONCE: the A/B isolates the candidate stage.
    rel_warm = signature_set_relation(explode_shingles(base, cfg.k), cfg)
    banded_pairs(rel_warm, cfg).count()
    banded_pairs(rel_warm, cfg, max_bucket_size=256, oversize="drop").count()
    banded_pairs(rel_warm, cfg, max_bucket_size=256, oversize="auto").count()
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]
    rel = signature_set_relation(explode_shingles(big, cfg.k), cfg)
    rel.count()
    out = {"mode": "capped_ab", "replicas": replicas, "docs": n_docs,
           "cap": 256, "paths": {}}
    runs = [
        ("uncapped", lambda: banded_pairs(rel, cfg)),
        ("capped_drop", lambda: banded_pairs(
            rel, cfg, max_bucket_size=256, oversize="drop")),
        ("capped_auto", lambda: banded_pairs(
            rel, cfg, max_bucket_size=256, oversize="auto")),
    ]
    for name, mk in runs:
        best, n = 9e9, None
        for _ in range(2):
            t0 = time.perf_counter()
            n = mk().count()
            best = min(best, time.perf_counter() - t0)
        out["paths"][name] = {"candidates": n, "wall_sec": round(best, 2)}
    print(json.dumps(out))
    spark.stop()


def groups_probe(replicas: int, reliable_ckpt: bool = False) -> None:
    """similar_groups at its design point: the scale where the pair-list
    flagship exhausts single-box spill (160x).  Instruments the Borůvka
    loop (rounds, representative edges actually verified) by wrapping
    fused_overlap_counts.

    ``--ckpt``: run with a RELIABLE checkpoint_dir instead of
    localCheckpoint — the executor-loss-survivable recovery path — and
    record its wall overhead plus total checkpoint bytes written
    (SCALE.md §8's at-scale row)."""
    import shutil
    import tempfile

    from mapreduce_minhash_lsh_spark.operators import dedup
    from mapreduce_minhash_lsh_spark.operators import similarity as S

    spark = get_spark(app_name="groups-probe")
    spark.range(1).count()
    base, big = _replicated(spark, replicas)
    n_docs = big.count()
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    ckpt_dir = tempfile.mkdtemp(prefix="probe_ckpt_") if reliable_ckpt else None
    # warm generated code at base scale (same checkpoint flavor)
    dedup.similar_groups(base, cfg, checkpoint_dir=ckpt_dir).count()
    if ckpt_dir:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]

    stats = {"rounds": 0, "verified_edge_checks": 0}
    real_counts = S.fused_overlap_counts

    def counting(reps, rel, cfg_, thr, cp=None):
        stats["rounds"] += 1
        stats["verified_edge_checks"] += reps.count()
        return real_counts(reps, rel, cfg_, thr, cp)

    S.fused_overlap_counts = counting
    try:
        t0 = time.perf_counter()
        groups = dedup.similar_groups(big, cfg, checkpoint_dir=ckpt_dir)
        n_grouped = groups.count()
        n_groups = groups.select("group_id").distinct().count()
        wall = round(time.perf_counter() - t0, 1)
    finally:
        S.fused_overlap_counts = real_counts
    out = {
        "mode": "groups", "replicas": replicas, "docs": n_docs,
        "wall_sec": wall, "boruvka_rounds": stats["rounds"],
        "edges_verified": stats["verified_edge_checks"],
        "docs_in_groups": n_grouped, "groups": n_groups,
        "checkpoint": "reliable" if reliable_ckpt else "local",
        "pair_path_at_same_scale": (
            "dies at 160x: verify payload join exhausts ~70 GB shuffle "
            "spill (round-4 finding, SCALE.md §7); true pairs ~67M"
        ),
    }
    if ckpt_dir:
        total = sum(
            f.stat().st_size for f in Path(ckpt_dir).rglob("*") if f.is_file()
        )
        out["checkpoint_bytes_written"] = total
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


def _pairs_checksum(out):
    """Order-free fingerprint of a (doc_id_a, doc_id_b, jaccard) result:
    count + commutative sum of per-row xxhash64.  Both valve paths
    compute jaccard with the identical arithmetic, so the doubles are
    bit-equal and hashing them directly is exact."""
    h = F.xxhash64("doc_id_a", "doc_id_b", "jaccard")
    row = out.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(doc_id_a, doc_id_b, jaccard))").alias("hx"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("hs"),  # no long overflow
    ).collect()[0]
    return row.n, int(row.hx or 0), int(row.hs or 0)


def valve_ab_probe(replicas: int) -> None:
    """Bit-identity of the pair-volume valve (VERDICT r8 #2): at a scale
    where BOTH paths run, the chunked verify (budget forced below the
    candidate count) must produce exactly the rows of the round-8
    single-join plan (pair_budget=None)."""
    from mapreduce_minhash_lsh_spark.operators.lsh import banded_pairs as bp

    spark = get_spark(app_name="valve-ab-probe")
    spark.range(1).count()
    base, big = _replicated(spark, replicas)
    n_docs = big.count()
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    similar_pairs(base, cfg, pair_budget=None).count()  # warm codegen
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]
    n_cands = bp(signature_set_relation(explode_shingles(big, cfg.k), cfg), cfg).count()
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]

    t0 = time.perf_counter()
    sig_off = _pairs_checksum(similar_pairs(big, cfg, pair_budget=None))
    t_off = round(time.perf_counter() - t0, 1)
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]

    budget = max(1, n_cands // 4)  # force >=4 chunks
    t0 = time.perf_counter()
    sig_on = _pairs_checksum(similar_pairs(big, cfg, pair_budget=budget))
    t_on = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "mode": "valve_ab", "replicas": replicas, "docs": n_docs,
        "candidates": n_cands, "forced_budget": budget,
        "single_join": {"pairs": sig_off[0], "checksum": list(sig_off[1:]), "wall_sec": t_off},
        "chunked": {"pairs": sig_on[0], "checksum": list(sig_on[1:]), "wall_sec": t_on},
        "identical": sig_off == sig_on,
    }))
    spark.stop()


def valve_probe(replicas: int) -> None:
    """The symmetric pair-list flagship at the scale where it previously
    DIED in verify-join spill (160x, SCALE.md §7), now behind the
    default 12M-pair valve: the run must complete, the valve must fire,
    and the probe records wall / candidates / chunks / verified pairs."""
    import logging

    from mapreduce_minhash_lsh_spark.operators import similarity as S

    spark = get_spark(app_name="valve-probe")
    spark.range(1).count()
    base, big = _replicated(spark, replicas)
    n_docs = big.count()
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    similar_pairs(base, cfg).count()  # warm codegen at base scale
    _drop_all_persisted(spark)
    big = _replicated(spark, replicas)[1]

    fired = {"n_cand": 0, "n_chunks": 0}

    class _Capture(logging.Handler):
        def emit(self, record):
            if "pair-volume valve" in record.getMessage():
                fired["n_cand"], fired["n_chunks"] = record.args[0], record.args[2]

    h = _Capture()
    logging.getLogger(S.__name__).addHandler(h)
    try:
        t0 = time.perf_counter()
        n_pairs = similar_pairs(big, cfg).count()
        wall = round(time.perf_counter() - t0, 1)
    finally:
        logging.getLogger(S.__name__).removeHandler(h)
    print(json.dumps({
        "mode": "valve_160x", "replicas": replicas, "docs": n_docs,
        "pair_budget": S.PAIR_VERIFY_BUDGET,
        "valve_fired": fired["n_chunks"] > 0,
        "candidates": fired["n_cand"], "verify_chunks": fired["n_chunks"],
        "verified_pairs": n_pairs, "wall_sec": wall,
        "prior_status_without_valve": (
            "died: one verify payload join exhausted ~70 GB single-box "
            "shuffle spill at this scale (SCALE.md §7)"
        ),
    }))
    spark.stop()


def premium_probe(n_runs: int = 3) -> None:
    """Always-on valve cost at BENIGN scale (VERDICT r9 #2's done
    criterion): interleave the armed valve (default budget; since r10
    the trigger is the pre-join bucket-size volume bound, so no
    candidate barrier fires) against pair_budget=None (round-8 plan) on
    the sf0.1 flagship corpus, same session, alternating arms so drift
    hits both equally.  Target: premium <= 5% (was 12% with the r9
    persist+count barrier)."""
    spark = get_spark(app_name="valve-premium-probe")
    spark.range(1).count()
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )

    def run(budget):
        t0 = time.perf_counter()
        n = similar_pairs(docs, cfg, pair_budget=budget).count()
        dt = time.perf_counter() - t0
        _drop_all_persisted(spark)
        return n, dt

    run(None); run(12_000_000)  # warm codegen, both arms
    _drop_all_persisted(spark)
    best = {"armed": 9e9, "off": 9e9}
    n_pairs = {}
    for i in range(n_runs):
        # alternate arm order per iteration so slot-position effects
        # (GC backlog, page cache) cancel instead of biasing one arm
        order = [("off", None), ("armed", 12_000_000)]
        if i % 2:
            order.reverse()
        for arm, budget in order:
            n_pairs[arm], dt = run(budget)
            best[arm] = min(best[arm], dt)
    print(json.dumps({
        "mode": "valve_premium", "sf": 0.1, "runs": n_runs,
        "pairs": n_pairs, "identical_counts": n_pairs["armed"] == n_pairs["off"],
        "valve_off_sec": round(best["off"], 2),
        "valve_armed_sec": round(best["armed"], 2),
        "premium": round(best["armed"] / best["off"], 3),
    }))
    spark.stop()


def main() -> None:
    if "--premium" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("-")]
        premium_probe(int(args[0]) if args else 3)
        return
    if "--valve-ab" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("-")]
        valve_ab_probe(int(args[0]) if args else 10)
        return
    if "--valve" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("-")]
        valve_probe(int(args[0]) if args else 160)
        return
    if "--capped" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("-")]
        capped_probe(int(args[0]) if args else 10)
        return
    if "--groups" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("-")]
        groups_probe(
            int(args[0]) if args else 160, reliable_ckpt="--ckpt" in sys.argv
        )
        return
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="scale-probe")
    spark.range(1).count()
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
    big = big.repartition(64).localCheckpoint(eager=True)
    n_docs = big.count()

    # Full production strategy: map-side xxhash shingle ids AND xxhash
    # band keys (no band-key strings, no md5) — what a 100 TB run uses.
    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    t0 = time.perf_counter()
    rel = signature_set_relation(explode_shingles(big, cfg.k), cfg)
    n_cands = banded_pairs(rel, cfg).count()
    t_cand = time.perf_counter() - t0
    # Steady-state end-to-end run: drop the probe's own caches, then
    # WARM the pipeline's generated code on the base corpus before
    # timing.  Measured at 40x: the same pipeline is 87.7 s on its
    # first execution in a JVM and 32.8 s warm — one-off Janino/JIT
    # compilation and old-gen GC, not throughput; any long-running
    # deployment amortizes it to zero, so the probe reports the number
    # that scales.
    spark.catalog.clearCache()
    similar_pairs(base, cfg).count()
    spark.catalog.clearCache()
    t1 = time.perf_counter()
    n_pairs = similar_pairs(big, cfg).count()
    t_pipe = time.perf_counter() - t1
    print(json.dumps({
        "replicas": replicas,
        "docs": n_docs,
        "candidates": n_cands,
        "verified_pairs": n_pairs,
        "candidate_stage_sec": round(t_cand, 1),
        "pipeline_sec": round(t_pipe, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
