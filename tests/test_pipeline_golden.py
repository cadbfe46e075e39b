"""End-to-end golden parity with the reference's committed output
(results/pairs/part-r-00000) plus pipeline-level unit checks."""

from __future__ import annotations

import itertools
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import GOLDEN, MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.lsh import (
    band_keys,
    banded_pairs,
    bands_for,
)
from mapreduce_minhash_lsh_spark.operators.minhash import minhash_signatures
from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
from mapreduce_minhash_lsh_spark.operators.similarity import (
    cross_corpus_pairs,
    exact_jaccard,
    similar_pairs,
    symmetric_pairs,
)
from tests.conftest import GOLDEN_PAIRS
from tests.test_shingling import shingles_py

# Band stores refuse 'rank' ids (each batch ranks its own vocabulary, so
# stored and new signatures never agree); store tests use md5 ids.
GOLDEN_STORE = replace(GOLDEN, id_strategy="md5")


def test_flagship_reproduces_golden_pairs(spark, golden_docs):
    """SURVEY.md §5.1: the flagship pipeline on the verbatim 5-line corpus
    must reproduce the undirected golden pair set. The reference's own 0.8
    threshold never filtered (self-compare bug, MinHashLSH.java:176); the
    golden pairs' true Jaccard is 0.35 / 0.456 vs <=0.107 for the rest, so
    verified threshold 0.3 (GOLDEN config) separates them exactly."""
    result = similar_pairs(golden_docs, GOLDEN)
    got = {(r.doc_id_a, r.doc_id_b) for r in result.collect()}
    assert got == GOLDEN_PAIRS


def test_cross_corpus_is_the_flagship_restricted_to_cross_pairs(spark, golden_docs):
    """cross_corpus_pairs(new=odd ids, seen=even ids) must equal the
    symmetric flagship result restricted to odd-vs-even pairs, oriented
    (new, seen) — and must contain no same-parity pair (the operator
    never compares new-vs-new or seen-vs-seen)."""
    new = golden_docs.where(F.col("doc_id") % 2 == 1)
    seen = golden_docs.where(F.col("doc_id") % 2 == 0)
    got = {
        (r.new_id, r.seen_id): round(r.jaccard, 12)
        for r in cross_corpus_pairs(new, seen, GOLDEN).collect()
    }
    assert all(n % 2 == 1 and s % 2 == 0 for n, s in got)
    want = {
        (a, b) if a % 2 == 1 else (b, a): round(j, 12)
        for a, b, j in (
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in similar_pairs(golden_docs, GOLDEN).collect()
        )
        if (a % 2) != (b % 2)
    }
    assert got == want


def test_flagship_reliable_checkpoint_identical(spark, golden_docs, tmp_path):
    """The checkpoint_dir knob (fault-tolerant 100 TB runs: reliable
    checkpoint instead of executor-local blocks) must not change a single
    output value."""
    default = similar_pairs(golden_docs, GOLDEN).collect()
    reliable = similar_pairs(
        golden_docs, GOLDEN, checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()
    key = lambda r: (r.doc_id_a, r.doc_id_b)
    assert sorted(default, key=key) == sorted(reliable, key=key)


def test_reliable_checkpoint_files_are_load_bearing(spark, golden_docs, tmp_path):
    """Failure-recovery evidence for SCALE.md §8: _materialize with a
    checkpoint_dir must (a) write RDD checkpoint files under the dir and
    (b) serve later actions FROM them, not from lineage — proven by
    deleting the original input and re-counting.  localCheckpoint blocks
    die with their executor; these files don't."""
    import shutil

    from mapreduce_minhash_lsh_spark.operators.similarity import _materialize

    src = str(tmp_path / "src")
    golden_docs.write.parquet(src)
    df = spark.read.parquet(src).select("doc_id")
    ck = _materialize(df, str(tmp_path / "ckpt"))
    files = [p for p in (tmp_path / "ckpt").rglob("*") if p.is_file()]
    assert files, "no checkpoint files written under checkpoint_dir"
    shutil.rmtree(src)  # simulate losing the upstream data
    assert ck.count() == 5  # reads the checkpoint, lineage source is gone
    assert sorted(r.doc_id for r in ck.collect()) == [0, 1, 2, 3, 4]


def test_symmetric_output_contract(spark, golden_docs):
    """Job 3 emits both directions (4 rows for 2 pairs)."""
    sym = symmetric_pairs(similar_pairs(golden_docs, GOLDEN))
    got = {(r.doc_id_a, r.doc_id_b) for r in sym.collect()}
    assert got == {(0, 2), (2, 0), (3, 4), (4, 3)}


def test_exact_jaccard_matches_python(spark, golden_docs):
    """exact_jaccard on all 10 pairs == brute-force Python set Jaccard."""
    texts = {r.doc_id: r.text for r in golden_docs.collect()}
    all_pairs = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(sorted(texts), 2)],
        ["doc_id_a", "doc_id_b"],
    )
    sh = explode_shingles(golden_docs, k=3)
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in exact_jaccard(all_pairs, sh).collect()
    }
    for a, b in itertools.combinations(sorted(texts), 2):
        A, B = set(shingles_py(texts[a])), set(shingles_py(texts[b]))
        expected = len(A & B) / len(A | B)
        if expected == 0.0:
            assert (a, b) not in got  # no common shingle -> no row
        else:
            assert abs(got[(a, b)] - expected) < 1e-12


def test_signature_and_band_shapes(spark, golden_docs):
    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4)
    sh = explode_shingles(golden_docs, cfg.k)
    sig = minhash_signatures(sh, cfg)
    assert sig.columns == ["doc_id"] + [f"mh_{j}" for j in range(8)]
    assert sig.count() == 5
    bands = band_keys(sig, cfg)
    assert bands.count() == 5 * 4
    # every band key is r comma-joined non-negative ints
    for row in bands.collect():
        parts = row.band_key.split(",")
        assert len(parts) == cfg.rows_per_band
        assert all(0 <= int(p) < cfg.prime for p in parts)
    assert bands.select("band").distinct().count() == 4


def _distinct_band_pairs(bands):
    """Reference candidate set: the distinct band-bucket self-join."""
    a, b = bands.alias("a"), bands.alias("b")
    return sorted(map(tuple, (
        a.join(b, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct().collect()
    )))


def test_determinism_same_seed(spark, golden_docs):
    cfg = MinHashLSHConfig(num_hashes=16, num_bands=8, seed=7)
    sig = minhash_signatures(explode_shingles(golden_docs, cfg.k), cfg)
    a = sorted(map(tuple, banded_pairs(sig, cfg).collect()))
    b = sorted(map(tuple, banded_pairs(sig, cfg).collect()))
    assert a == b


def test_identical_docs_always_pair(spark):
    """j=1 pairs collide in every band — recall 1.0 regardless of seed."""
    docs = spark.createDataFrame(
        [(0, "the same text"), (1, "the same text"), (2, "unrelated words")],
        ["doc_id", "text"],
    )
    cfg = MinHashLSHConfig(num_hashes=4, num_bands=2, seed=123)
    got = similar_pairs(docs, cfg, threshold=0.99)
    assert [(r.doc_id_a, r.doc_id_b, r.jaccard) for r in got.collect()] == [(0, 1, 1.0)]


def test_max_bucket_size_caps_hot_buckets(spark):
    """100 identical docs -> one hot bucket per band; cap drops them."""
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text") for i in range(100)], ["doc_id", "text"]
    )
    cfg = MinHashLSHConfig(num_hashes=4, num_bands=2)
    sig = minhash_signatures(explode_shingles(docs, cfg.k), cfg)
    uncapped = banded_pairs(sig, cfg)
    assert uncapped.count() == 100 * 99 // 2
    capped = banded_pairs(sig, cfg, max_bucket_size=10)
    assert capped.count() == 0


def test_oversize_split_keeps_full_recall(spark):
    """Boilerplate-clique corpus: oversize='split' must produce EXACTLY
    the uncapped candidate set (full recall) while 'drop' loses the
    clique — the triangle decomposition claims every pair exactly once
    across (gi, gj) groups."""
    import random

    rng = random.Random(5)
    # 120-doc identical-text clique (one hot bucket per band) + 200
    # distinct docs forming ordinary small buckets + 30 planted near-dups
    rows = [(i, "identical boilerplate text repeated") for i in range(120)]
    words = ["red", "green", "blue", "lime", "teal", "cyan", "plum", "gold"]
    for i in range(200):
        rows.append((1000 + i, " ".join(rng.choice(words) for _ in range(12))))
    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4)
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(explode_shingles(docs, cfg.k), cfg)
    uncapped = sorted(map(tuple, banded_pairs(sig, cfg).collect()))
    assert len(uncapped) >= 120 * 119 // 2
    for cap in (7, 10, 50):
        split = sorted(
            map(tuple, banded_pairs(sig, cfg, max_bucket_size=cap,
                                    oversize="split").collect())
        )
        assert split == uncapped, f"cap={cap}"
    dropped = banded_pairs(sig, cfg, max_bucket_size=10, oversize="drop")
    assert dropped.count() < len(uncapped)


def test_capped_modes_exactly_once_and_equivalent(spark):
    """Round-5 rework: every capped mode emits each pair EXACTLY ONCE
    (no global distinct) by its lowest surviving agreeing band.  Checks
    on a mixed corpus (hot clique + near-dup families + background):

    * no duplicate rows in any mode (the exactly-once claim);
    * 'drop' set-equal to the reference distinct-based semantics
      (distinct pairs from surviving buckets) — including pairs whose
      lowest AGREEING band was dropped but a later band survives;
    * 'split' and 'auto' (both triangle-forced and plain-forced)
      set-equal to the uncapped candidate set (full recall).
    """
    import random

    from mapreduce_minhash_lsh_spark.operators.minhash import (
        minhash_signatures_array,
    )

    rng = random.Random(55)
    rows = [(i, "identical boilerplate clique text") for i in range(25)]
    # near-dup families: base text with small per-member mutations, so
    # members agree in SOME bands only and bucket membership varies per
    # band (exercising partial survival under 'drop')
    words = ["red", "green", "blue", "lime", "teal", "cyan", "plum", "gold"]
    for fam in range(6):
        base = [rng.choice(words) for _ in range(14)]
        for m in range(8):
            t = list(base)
            if m:
                t[rng.randrange(len(t))] = rng.choice(words)
            rows.append((1000 + fam * 100 + m, " ".join(t)))
    for i in range(60):
        rows.append((5000 + i, " ".join(rng.choice(words) for _ in range(10))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4)
    sh = explode_shingles(docs, cfg.k)
    sig = minhash_signatures_array(sh, cfg)
    bands = bands_for(sig, cfg).localCheckpoint()
    uncapped = _distinct_band_pairs(bands)
    sized = bands.groupBy("band", "band_key").agg(F.count("*").alias("_n"))
    for cap in (5, 9, 26):
        ref_drop = _distinct_band_pairs(
            bands.join(
                sized.where(F.col("_n") <= cap), ["band", "band_key"]
            ).drop("_n")
        )
        got = [
            tuple(r)
            for r in banded_pairs(
                sig, cfg, max_bucket_size=cap, oversize="drop"
            ).collect()
        ]
        assert len(got) == len(set(got)), f"duplicates: drop cap={cap}"
        assert sorted(got) == ref_drop, f"drop cap={cap}"
        for mode, thr in (("split", 2048), ("auto", 6), ("auto", 10**6)):
            got = [
                tuple(r)
                for r in banded_pairs(
                    sig, cfg, max_bucket_size=cap, oversize=mode,
                    auto_split_threshold=thr,
                ).collect()
            ]
            assert len(got) == len(set(got)), f"duplicates: {mode} cap={cap} thr={thr}"
            assert sorted(got) == uncapped, f"{mode} cap={cap} thr={thr}"


def test_oversize_split_flagship_equals_uncapped(spark):
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs

    docs = spark.createDataFrame(
        [(i, "identical boilerplate text here") for i in range(40)]
        + [(100, "something else entirely"), (101, "something else entirely")],
        ["doc_id", "text"],
    )
    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4)
    base = sorted(map(tuple, similar_pairs(docs, cfg, threshold=0.9).collect()))
    split = sorted(map(tuple, similar_pairs(
        docs, cfg, threshold=0.9, max_bucket_size=8, oversize="split"
    ).collect()))
    assert split == base
    assert len(base) >= 40 * 39 // 2


def test_xxhash_band_strategy_identical_output(spark, golden_docs):
    """band_key_strategy='xxhash' (production: no string build, no md5)
    must yield the SAME candidate set and the SAME verified pairs as the
    oracle-portable md5 path — docs with equal band slices get equal keys
    under any hash, and a 64-bit collision could only ADD a candidate
    that exact verification then scores."""
    import dataclasses

    from mapreduce_minhash_lsh_spark.operators.minhash import (
        minhash_signatures_array,
    )

    xx = dataclasses.replace(GOLDEN, band_key_strategy="xxhash")
    sh = explode_shingles(golden_docs, GOLDEN.k)
    sig = minhash_signatures_array(sh, GOLDEN)
    cands_md5 = _distinct_band_pairs(bands_for(sig, GOLDEN))
    cands_xx = _distinct_band_pairs(bands_for(sig, xx))
    assert cands_xx == cands_md5
    assert sorted(map(tuple, banded_pairs(sig, xx).collect())) == cands_md5

    key = lambda r: (r.doc_id_a, r.doc_id_b)
    want = sorted(similar_pairs(golden_docs, GOLDEN).collect(), key=key)
    got = sorted(similar_pairs(golden_docs, xx).collect(), key=key)
    assert got == want
    assert {(r.doc_id_a, r.doc_id_b) for r in got} == GOLDEN_PAIRS


def test_xxhash_band_strategy_wide_and_array_forms_agree(spark, golden_docs):
    """xxhash band keys (bands_for under band_key_strategy='xxhash')
    must hash identical values whether the signature arrives in array
    form (sig) or wide form (mh_0..mh_{n-1})."""
    from mapreduce_minhash_lsh_spark.operators.minhash import (
        minhash_signatures_array,
    )

    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4, band_key_strategy="xxhash")
    sh = explode_shingles(golden_docs, cfg.k)
    wide = bands_for(minhash_signatures(sh, cfg), cfg)
    arr = bands_for(minhash_signatures_array(sh, cfg), cfg)
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, arr.collect()))


@pytest.mark.parametrize(
    "sig_strategy,id_strategy",
    [
        ("affine", "rank"),
        ("affine", "md5"),
        ("affine", "xxhash"),
        ("oph", "md5"),
        ("oph", "xxhash"),
    ],
)
def test_signatures_array_equals_signature_set_relation(
    spark, sig_strategy, id_strategy
):
    """``minhash.signatures_array`` holds the bytes of the ``sig`` column
    of ``similarity.signature_set_relation`` over the same shingle
    relation, so signatures persisted through the one band and agree
    with those the other recomputes; the wide ``minhash_signatures`` is
    the projection ``mh_j = sig[j]``."""
    from mapreduce_minhash_lsh_spark.operators.minhash import signatures_array
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        signature_set_relation,
    )
    from mapreduce_minhash_lsh_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    cfg = MinHashLSHConfig(
        num_hashes=32, num_bands=4, id_strategy=id_strategy,
        sig_strategy=sig_strategy,
    )
    sh = explode_shingles(load_table(spark, SF_SMALL, "documents"), cfg.k)
    got = dict(signatures_array(sh, cfg).collect())
    want = dict(signature_set_relation(sh, cfg).select("doc_id", "sig").collect())
    assert len(want) > 100
    assert got == want
    if sig_strategy == "affine":
        wide = {
            r.doc_id: [r[f"mh_{j}"] for j in range(cfg.num_hashes)]
            for r in minhash_signatures(sh, cfg).collect()
        }
        assert wide == want


def test_containment_postings_finds_planted_subset(spark):
    """A short doc quoted verbatim inside a long doc has containment 1.0
    but Jaccard ~ len_short/len_long — the banded generator misses it
    (that's its documented recall contract); the postings generator must
    find it.  Unrelated docs must NOT pair."""
    import random

    from mapreduce_minhash_lsh_spark.operators.similarity import (
        containment_pairs,
        containment_pairs_postings,
    )

    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    short = "the quick brown fox jumps over the lazy dog"
    long_text = (
        "".join(rng.choice(alphabet) for _ in range(300))
        + short
        + "".join(rng.choice(alphabet) for _ in range(300))
    )
    other = "".join(rng.choice(alphabet) for _ in range(200))
    docs = spark.createDataFrame(
        [(1, short), (2, long_text), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in containment_pairs_postings(docs, k=3, threshold=0.9).collect()
    }
    # containment slightly below 1: the short doc's final pad-to-k
    # shingles ("g  ") occur at its end but mid-text in the long doc
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert (1, 3) not in got and (2, 3) not in got

    cfg = MinHashLSHConfig(num_hashes=128, num_bands=8, threshold=0.8, seed=42)
    banded = {
        (r.doc_id_a, r.doc_id_b)
        for r in containment_pairs(docs, cfg, 0.9).collect()
    }
    assert (1, 2) not in banded  # the hole the postings generator closes


def test_containment_postings_max_df_valve(spark):
    """Shingles above max_df generate no candidates: a corpus where every
    shared shingle is corpus-common yields nothing (the scale valve), and
    lowering min_common/raising max_df brings the pairs back."""
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        containment_pairs_postings,
    )

    docs = spark.createDataFrame(
        [(i, "common boilerplate text") for i in range(10)], ["doc_id", "text"]
    )
    none = containment_pairs_postings(docs, k=3, threshold=0.9, max_df=5)
    assert none.count() == 0  # every shingle has df=10 > 5
    allp = containment_pairs_postings(docs, k=3, threshold=0.9, max_df=10)
    assert allp.count() == 10 * 9 // 2


def test_weighted_jaccard_semantics(spark):
    """Weighted (capped-tf) Jaccard via expansion: for repeat-free docs
    it equals set Jaccard; when one doc repeats shared content its
    weighted score drops below the set score (min/max tf asymmetry);
    and the expansion itself is verified against a Python replay."""
    from mapreduce_minhash_lsh_spark.operators.shingling import (
        expand_weighted_shingles,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        similar_pairs_from_shingles,
    )

    base = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " " + base + " " + base)],
        ["doc_id", "text"],
    )
    cfg = MinHashLSHConfig(num_hashes=16, num_bands=16, threshold=0.3, seed=42)
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in similar_pairs_from_shingles(
            expand_weighted_shingles(docs, k=3, cap=4), cfg, threshold=0.3
        ).collect()
    }
    plain = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in similar_pairs(docs, cfg, threshold=0.3).collect()
    }
    assert abs(got[(1, 2)] - 1.0) < 1e-12  # identical docs: weighted j = 1
    # tripled doc vs single: set Jaccard ~1 (same shingle set) but the
    # weighted score is pulled down by the tf mismatch
    assert plain[(1, 3)] > 0.9
    assert got[(1, 3)] < plain[(1, 3)] - 0.2

    # expansion replay: per (doc, shingle) multiplicity capped at 4
    from collections import Counter

    from tests.test_shingling import shingles_py

    rows = expand_weighted_shingles(docs, k=3, cap=4).collect()
    got_counts = Counter((r.doc_id, r.shingle.rsplit("#", 1)[0]) for r in rows)
    for doc_id, text in [(1, base), (3, base + " " + base + " " + base)]:
        want = Counter(shingles_py(text))
        for s, n in want.items():
            assert got_counts[(doc_id, s)] == min(n, 4), (doc_id, s)


def test_banded_pairs_equals_distinct_candidates_random(spark):
    """Lowest-band emission must produce EXACTLY the distinct candidate
    set on arbitrary corpora (both hash strategies, both sig schemes) —
    seeded-random docs with planted dups, cliques, and singletons."""
    import dataclasses
    import random

    from mapreduce_minhash_lsh_spark.operators.similarity import (
        signature_set_relation,
    )

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(120):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(3, 15)))
        rows.append((i, text))
        if rng.random() < 0.3:  # planted near-dup
            rows.append((1000 + i, text + " tail"))
    rows += [(5000 + i, "clique text shared verbatim") for i in range(15)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for band_strategy in ("md5", "xxhash"):
        for sig_strategy in ("affine", "oph"):
            cfg = MinHashLSHConfig(
                num_hashes=16, num_bands=4, seed=7,
                id_strategy="md5", band_key_strategy=band_strategy,
                sig_strategy=sig_strategy,
            )
            rel = signature_set_relation(explode_shingles(docs, cfg.k), cfg)
            via_distinct = _distinct_band_pairs(bands_for(rel, cfg))
            via_lowest = sorted(map(tuple, banded_pairs(rel, cfg).collect()))
            assert via_lowest == via_distinct, (band_strategy, sig_strategy)
            # exactly-once: no duplicates even BEFORE any dedup
            assert len(via_lowest) == len(set(via_lowest))


def test_banded_cross_pairs_equals_distinct_cross_random(spark):
    """The asymmetric lowest-band join must equal the distinct cross
    band join on a random split of the same corpus."""
    import random

    from mapreduce_minhash_lsh_spark.operators.similarity import (
        signature_set_relation,
    )

    rng = random.Random(13)
    words = ["red", "green", "blue", "lime", "teal"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(4, 12))))
        for i in range(150)
    ]
    rows += [(500 + i, rows[i][1]) for i in range(40)]  # cross dups
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cfg = MinHashLSHConfig(num_hashes=16, num_bands=4, seed=3, id_strategy="md5")
    new = docs.where(F.col("doc_id") % 2 == 0)
    seen = docs.where(F.col("doc_id") % 2 == 1)
    rel_new = signature_set_relation(explode_shingles(new, cfg.k), cfg)
    rel_seen = signature_set_relation(explode_shingles(seen, cfg.k), cfg)
    got = sorted(map(tuple, banded_pairs(rel_new, cfg, sig_b=rel_seen).collect()))
    want = sorted(map(tuple, (
        bands_for(rel_new, cfg).withColumnRenamed("doc_id", "doc_id_a")
        .join(
            bands_for(rel_seen, cfg).withColumnRenamed("doc_id", "doc_id_b"),
            ["band", "band_key"],
        )
        .select("doc_id_a", "doc_id_b").distinct().collect()
    )))
    assert got == want
    assert len(got) == len(set(got))


def test_flagship_partition_invariance(spark):
    """SCALE.md's reproducibility claim, tested directly: the flagship's
    output — including every jaccard double — must be IDENTICAL whether
    the input arrives in 1 partition or 17, and across two different
    shuffle-partition settings.  Integer ids, integer mins, and
    ratios-of-ints make this hold bitwise; a float accumulation snuck
    into the pipeline would break it."""
    import random

    rng = random.Random(21)
    words = ["ash", "oak", "elm", "fir", "yew", "maple"]
    rows = []
    for i in range(80):
        t = " ".join(rng.choice(words) for _ in range(rng.randint(4, 12)))
        rows.append((i, t))
        if i % 3 == 0:
            rows.append((100 + i, t + " x"))
    cfg = MinHashLSHConfig(num_hashes=32, num_bands=8, threshold=0.5, seed=5,
                           id_strategy="md5")
    base = None
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_parts, n_shuffle in ((1, 3), (17, 11)):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
            docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(
                n_parts
            )
            got = sorted(
                (r.doc_id_a, r.doc_id_b, r.jaccard)
                for r in similar_pairs(docs, cfg).collect()
            )
            assert got, "corpus must produce at least one pair"
            if base is None:
                base = got
            else:
                assert got == base  # bitwise: doubles compared exactly
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_candidate_pairs_rejects_unknown_oversize(spark):
    """banded_pairs rejects an unknown oversize policy (capped or not)
    and a cap on the cross-corpus join (capped cross pairs take
    band_row_pairs, which caps each side separately)."""
    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    cfg = MinHashLSHConfig(num_hashes=4, num_bands=2)
    sig = minhash_signatures(explode_shingles(docs, cfg.k), cfg)
    with pytest.raises(ValueError):
        banded_pairs(sig, cfg, max_bucket_size=5, oversize="truncate")
    with pytest.raises(ValueError):
        banded_pairs(sig, cfg, oversize="truncate")
    with pytest.raises(ValueError):
        banded_pairs(sig, cfg, sig_b=sig, max_bucket_size=5)


def test_golden_csv_artifact_matches_reference(spark, tmp_path):
    """End to end INCLUDING the sink: run the flagship on the verbatim
    reference corpus, write the job-3-shaped CSV (Text1,Text2 both
    directions), and compare content against the committed
    results/pairs/part-r-00000 as an (unordered) row set."""
    from mapreduce_minhash_lsh_spark.sources.tables import read_text_docs, write_csv

    docs = read_text_docs(
        spark, "/root/reference/src/main/resources/documents.txt"
    )
    pairs = symmetric_pairs(similar_pairs(docs, GOLDEN))
    texts = docs.select("doc_id", "text")
    out = (
        pairs.join(texts.withColumnsRenamed({"doc_id": "doc_id_a", "text": "Text1"}), "doc_id_a")
        .join(texts.withColumnsRenamed({"doc_id": "doc_id_b", "text": "Text2"}), "doc_id_b")
        .select("Text1", "Text2")
    )
    path = str(tmp_path / "pairs_csv")
    write_csv(out, path)
    back = spark.read.option("header", True).csv(path)
    got = {(r.Text1, r.Text2) for r in back.collect()}
    ref_lines = open(
        "/root/reference/src/main/resources/results/pairs/part-r-00000"
    ).read().splitlines()
    expected = {tuple(line.split(",", 1)) for line in ref_lines[1:]}
    assert got == expected


def test_band_store_matches_recomputing_cross_corpus(spark, golden_docs, tmp_path):
    """The persisted band store must give byte-identical cross-corpus
    results to the recomputing form, survive idempotent re-ingest, and
    extend incrementally."""
    from mapreduce_minhash_lsh_spark.operators.bandstore import (
        build_band_store,
        cross_pairs_against_store,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import cross_corpus_pairs

    new = golden_docs.where(F.col("doc_id") % 2 == 1)
    seen = golden_docs.where(F.col("doc_id") % 2 == 0)
    store = str(tmp_path / "store")
    build_band_store(seen, GOLDEN_STORE, store)

    key = lambda r: (r.new_id, r.seen_id)
    want = sorted(cross_corpus_pairs(new, seen, GOLDEN_STORE).collect(), key=key)
    got = sorted(cross_pairs_against_store(new, GOLDEN_STORE, store).collect(), key=key)
    assert got == want

    # re-ingesting the same docs is a no-op on the result
    build_band_store(seen, GOLDEN_STORE, store)
    again = sorted(cross_pairs_against_store(new, GOLDEN_STORE, store).collect(), key=key)
    assert again == want

    # extending the store with the new docs makes them findable as seen
    build_band_store(new, GOLDEN_STORE, store)
    self_hits = cross_pairs_against_store(new, GOLDEN_STORE, store).collect()
    # every new doc's planted partner (odd or even) is now in the store
    assert {(r.new_id, r.seen_id) for r in self_hits} >= {
        (r.new_id, r.seen_id) for r in want
    }


def test_capped_cross_corpus_equals_store_and_reference(spark, tmp_path):
    """With ``max_bucket_size`` the recomputing cross-corpus join and the
    store-backed one must give the same verified pairs, and both must
    equal a reference built from per-side-capped distinct band joins: a
    bucket over the cap on EITHER side emits nothing."""
    import random

    from mapreduce_minhash_lsh_spark.operators.bandstore import (
        build_band_store,
        cross_pairs_against_store,
    )
    from mapreduce_minhash_lsh_spark.operators.minhash import (
        minhash_signatures_array,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        signature_prefilter,
    )

    rng = random.Random(17)
    words = ["red", "green", "blue", "lime", "teal", "cyan", "plum", "gold"]
    seen_rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(8, 14))))
        for i in range(60)
    ]
    new_rows = [(1000 + i, seen_rows[i][1] + " tail") for i in range(0, 40, 2)]
    # a clique over the cap on the seen side, and one on the new side
    seen_rows += [(200 + i, "boilerplate footer seen side") for i in range(6)]
    new_rows += [(2000, "boilerplate footer seen side")]
    new_rows += [(3000 + i, "boilerplate header new side") for i in range(6)]
    seen_rows += [(300, "boilerplate header new side")]
    seen = spark.createDataFrame(seen_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    cfg = MinHashLSHConfig(
        num_hashes=32, num_bands=8, threshold=0.5, seed=3, id_strategy="md5"
    )
    cap = 4

    sh_new = explode_shingles(new, cfg.k)
    sh_seen = explode_shingles(seen, cfg.k)
    sig_new = minhash_signatures_array(sh_new, cfg)
    sig_seen = minhash_signatures_array(sh_seen, cfg)

    def capped(sig):
        b = bands_for(sig, cfg)
        sized = b.groupBy("band", "band_key").agg(F.count("*").alias("_n"))
        return b.join(sized.where(F.col("_n") <= cap), ["band", "band_key"])

    ref_cands = (
        capped(sig_new).select(F.col("doc_id").alias("doc_id_a"), "band", "band_key")
        .join(
            capped(sig_seen).select(
                F.col("doc_id").alias("doc_id_b"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    ref = exact_jaccard(
        signature_prefilter(
            ref_cands, sig_new.unionByName(sig_seen), cfg, cfg.threshold
        ),
        sh_new.unionByName(sh_seen),
    ).where(F.col("jaccard") >= cfg.threshold)
    want = sorted((r.doc_id_a, r.doc_id_b, r.jaccard) for r in ref.collect())

    store = str(tmp_path / "store")
    build_band_store(seen, cfg, store)
    recomputed = sorted(
        (r.new_id, r.seen_id, r.jaccard)
        for r in cross_corpus_pairs(new, seen, cfg, max_bucket_size=cap).collect()
    )
    stored = sorted(
        (r.new_id, r.seen_id, r.jaccard)
        for r in cross_pairs_against_store(
            new, cfg, store, max_bucket_size=cap
        ).collect()
    )
    assert recomputed == stored == want
    # the cap bites on both sides: both cliques' cross pairs are gone,
    # while the planted near-dups survive
    uncapped = {(r.new_id, r.seen_id) for r in cross_corpus_pairs(new, seen, cfg).collect()}
    got = {(a, b) for a, b, _ in want}
    assert {(2000, 200), (3000, 300)} <= uncapped - got
    assert len(got) >= 10


def test_band_store_prune_removes_docs(spark, golden_docs, tmp_path):
    """After pruning ids, a store-backed ingest behaves exactly as if
    the pruned docs had never been ingested; pruning absent ids is a
    no-op."""
    from mapreduce_minhash_lsh_spark.operators.bandstore import (
        build_band_store,
        cross_pairs_against_store,
        load_band_store,
        prune_band_store,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import cross_corpus_pairs

    new = golden_docs.where(F.col("doc_id") % 2 == 1)
    seen = golden_docs.where(F.col("doc_id") % 2 == 0)
    store = str(tmp_path / "store")
    build_band_store(seen, GOLDEN_STORE, store)

    # drop doc 2 — the seen half of the golden cross pair (apple docs)
    drop = spark.createDataFrame([(2,)], "doc_id long")
    prune_band_store(spark, store, drop)
    for tbl in load_band_store(spark, store):
        assert tbl.where(F.col("doc_id") == 2).count() == 0

    key = lambda r: (r.new_id, r.seen_id)
    seen_wo_2 = seen.where(F.col("doc_id") != 2)
    want = sorted(cross_corpus_pairs(new, seen_wo_2, GOLDEN_STORE).collect(), key=key)
    got = sorted(cross_pairs_against_store(new, GOLDEN_STORE, store).collect(), key=key)
    assert got == want

    # absent ids: no-op
    prune_band_store(spark, store, spark.createDataFrame([(99,)], "doc_id long"))
    again = sorted(cross_pairs_against_store(new, GOLDEN_STORE, store).collect(), key=key)
    assert again == want


def test_oph_optimal_densification_semantics(spark):
    """Pin the optimal-densification contract (round 5):

    * a doc with every bucket non-empty gets exactly its per-bucket mins
      (densification is a no-op);
    * signatures are deterministic and partition-invariant;
    * copied values keep their donor's residue class mod num_hashes, so
      values copied from different donors can never spuriously agree;
    * ultra-short docs (fewer shingles than probe attempts can cover)
      still resolve every slot via the circular-walk fallback.
    """
    from mapreduce_minhash_lsh_spark.operators.minhash import (
        oph_signatures_array,
    )

    n = 8
    cfg = MinHashLSHConfig(
        num_hashes=n, num_bands=4, id_strategy="md5", sig_strategy="oph"
    )
    docs = spark.createDataFrame(
        [(1, "a reasonably long text with many distinct shingles in it"),
         (2, "ab"),  # single shingle -> 1 non-empty bucket, 7 fallbacks
         (3, "a reasonably long text with many distinct shingles in it")],
        ["doc_id", "text"],
    )
    sh = explode_shingles(docs, cfg.k)
    sig = {r.doc_id: r.sig for r in oph_signatures_array(sh, cfg).collect()}
    assert len(sig[1]) == n and len(sig[2]) == n
    assert sig[1] == sig[3]  # identical docs -> identical signatures
    # every slot resolved, and each value sits in SOME residue class of a
    # non-empty bucket of the doc
    from mapreduce_minhash_lsh_spark.functions.hashing import md5_id as _mid
    ids = {r.doc_id: r.shingle_id for r in
           sh.select("doc_id", _mid(F.col("shingle"), cfg.prime)
                     .alias("shingle_id")).collect()}
    assert all(v is not None for v in sig[2])
    short_buckets = {
        r.sid % n
        for r in sh.where(F.col("doc_id") == 2)
        .select(_mid(F.col("shingle"), cfg.prime).alias("sid"))
        .collect()
    }
    # every slot copied from one of the doc's (few) non-empty buckets —
    # residue classes prove the donor, and prove cross-donor values can
    # never collide
    assert all(v % n in short_buckets for v in sig[2])
    # full doc: slot i == min of bucket i wherever bucket i is non-empty
    mins = {}
    for r in sh.where(F.col("doc_id") == 1).select(
        _mid(F.col("shingle"), cfg.prime).alias("sid")
    ).collect():
        mins[r.sid % n] = min(mins.get(r.sid % n, r.sid), r.sid)
    for b, m in mins.items():
        assert sig[1][b] == m


def test_band_store_rejects_mismatched_signature_spec(spark, golden_docs, tmp_path):
    """A store whose recorded signature spec differs from the cfg's must
    fail fast — not silently under-match — when built against or
    queried.  The store's spec is rewritten to differ only in its
    ``densify`` value ('rotation', the removed densification): an OPH
    store of that scheme holds signatures no current cfg computes."""
    import dataclasses
    import json

    import pytest

    from mapreduce_minhash_lsh_spark.operators.bandstore import (
        build_band_store,
        cross_pairs_against_store,
    )

    store = str(tmp_path / "store")
    oph = dataclasses.replace(GOLDEN_STORE, sig_strategy="oph")
    build_band_store(golden_docs.where(F.col("doc_id") % 2 == 0), oph, store)
    spec_path = f"{store}/_spec"
    built = spark.read.parquet(spec_path).first().spec
    fields = json.loads(built)
    assert fields["densify"] == "optimal"

    def write_spec(text):
        spark.createDataFrame([(text,)], ["spec"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(spec_path)

    write_spec(json.dumps(dict(fields, densify="rotation"), sort_keys=True))
    new = golden_docs.where(F.col("doc_id") % 2 == 1)
    with pytest.raises(ValueError, match="signature spec"):
        cross_pairs_against_store(new, oph, store)
    with pytest.raises(ValueError, match="signature spec"):
        build_band_store(new, oph, store)
    # the matching spec still works
    write_spec(built)
    assert cross_pairs_against_store(new, oph, store).count() >= 0


def test_flagship_merges_a_doc_id_split_across_partitions(spark):
    """similar_pairs' signature aggregate groups the shingles of every
    row that shares a doc_id, wherever the rows sit.  Doc 0 arrives as
    two rows in different input partitions; the result must equal that
    of a relation holding doc 0 as one row with the merged shingle set.
    The halves overlap by k-1 characters, so joining them there makes
    no shingle that neither half has (checked below)."""
    import random

    rng = random.Random(3)
    words = ["ash", "oak", "elm", "fir", "yew", "maple", "birch", "cedar"]

    def text(n):
        return " ".join(rng.choice(words) for _ in range(n))

    # shingles are right-padded at the text's end, so both halves also
    # end like the merged text does ("...e" -> "e  ")
    head, tail = text(10) + " pine", "ne " + text(10) + " maple"
    whole = head + tail[2:]
    assert set(shingles_py(whole, 3)) == set(shingles_py(head, 3)) | set(
        shingles_py(tail, 3)
    )
    others = [(i, text(12)) for i in range(2, 30)]
    others += [(1, whole.replace(" oak", " elm", 1) + " x")]
    cfg = MinHashLSHConfig(num_hashes=32, num_bands=8, threshold=0.5, seed=5,
                           id_strategy="md5")
    split = spark.sparkContext.parallelize([(0, head)] + others + [(0, tail)], 2)
    docs = spark.createDataFrame(split, ["doc_id", "text"])
    parts = docs.rdd.glom().map(lambda rows: {r.doc_id for r in rows}).collect()
    assert 0 in parts[0] and 0 in parts[1]
    merged = spark.createDataFrame([(0, whole)] + others, ["doc_id", "text"])

    def rows(df):
        return sorted(
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in similar_pairs(df, cfg).collect()
        )

    want = rows(merged)
    assert (0, 1) in {(a, b) for a, b, _ in want}
    assert rows(docs) == want
