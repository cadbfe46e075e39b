"""Connected-component semantics of near_dup_groups: equivalence with a
plain union-find, the pointer-jumping convergence bound (O(log D)
rounds on chains instead of O(D)), and its one-time edge shuffle."""

from __future__ import annotations

import random

from mapreduce_minhash_lsh_spark.operators.dedup import near_dup_groups


def _union_find_groups(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


def test_long_chain_converges_within_log_rounds(spark):
    """A 300-edge chain has diameter 300: plain min-label propagation
    needs ~300 rounds, pointer jumping ~log2(300)+slack.  max_iter=16
    would raise without the jump step."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_id_a long, doc_id_b long"
    )
    labels = near_dup_groups(edges, max_iter=16).collect()
    assert len(labels) == 301
    assert all(r.group_id == 0 for r in labels)


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_groups(edges)
    got = {
        r.doc_id: r.group_id
        for r in near_dup_groups(
            spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
        ).collect()
    }
    assert got == want


def test_empty_inputs_flow_through(spark):
    """An empty corpus (or an empty edge list) must produce empty output,
    not an error — partitions of a 100 TB run routinely see zero rows."""
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        cross_corpus_pairs,
        similar_pairs,
    )
    from mapreduce_minhash_lsh_spark.registry import PIPELINE_CFG

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert similar_pairs(empty_docs, PIPELINE_CFG).count() == 0
    assert cross_corpus_pairs(empty_docs, empty_docs, PIPELINE_CFG).count() == 0
    empty_edges = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert near_dup_groups(empty_edges).count() == 0


def test_max_iter_counts_the_first_round(spark):
    """Round 1 (computed from the edges alone) is a round: a path of
    diameter 3 is still relabeling after it, so max_iter=1 raises."""
    import pytest

    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "doc_id_a long, doc_id_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        near_dup_groups(path, max_iter=1)


def test_messy_edge_list_matches_union_find(spark):
    """Any edge list is accepted as is: duplicate edges, both orientations
    of one edge, self-loops on grouped nodes and a node whose only edge
    is a self-loop (its own singleton group)."""
    edges = [
        (5, 3), (3, 5), (3, 5), (5, 3),  # one edge, both ways, repeated
        (3, 3), (5, 5),                  # self-loops inside a group
        (9, 7), (7, 8), (8, 9), (8, 7),  # triangle, one edge reversed
        (11, 11), (11, 11),              # isolated self-loop node
        (20, 21), (21, 22), (22, 20), (20, 21),
    ]
    want = _union_find_groups(edges)
    assert want[11] == 11
    got = {
        r.doc_id: r.group_id
        for r in near_dup_groups(
            spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
        ).collect()
    }
    assert got == want


def test_near_dup_drop_ids_matches_union_find_drop_list(spark):
    """The registered drop list equals a union-find drop list over the
    flagship's verified pairs: every non-min member of a component,
    keeping the component min."""
    from mapreduce_minhash_lsh_spark import registry
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs
    from mapreduce_minhash_lsh_spark.queries._base import PIPELINE_CFG
    from mapreduce_minhash_lsh_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    pairs = similar_pairs(load_table(spark, SF_SMALL, "documents"), PIPELINE_CFG)
    groups = _union_find_groups([(r.doc_id_a, r.doc_id_b) for r in pairs.collect()])
    want = {(n, g) for n, g in groups.items() if n != g}
    got = {
        (r.drop_id, r.keep_id)
        for r in registry.queries()["near_dup_drop_ids"](spark, SF_SMALL).collect()
    }
    assert want and got == want


def test_near_dup_groups_releases_edge_cache(spark):
    """The cached edge list lives for the call only: no persisted RDD and
    no CacheManager entry outlives near_dup_groups, on return and on the
    max_iter raise.  Local-checkpoint RDDs (the eager labels) are
    excluded — they are freed by driver GC with the result's lifetime."""
    import pytest

    def persisted() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return {r.id() for r in rdds if not r.isCheckpointed()}

    def cache_empty() -> bool:
        return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_id_a long, doc_id_b long"
    )
    spark.catalog.clearCache()
    before = persisted()
    assert near_dup_groups(chain).count() == 21
    assert persisted() - before == set()
    assert cache_empty()
    with pytest.raises(RuntimeError, match="max_iter=2"):
        near_dup_groups(chain, max_iter=2)
    assert persisted() - before == set()
    assert cache_empty()


def test_near_dup_groups_shuffles_edge_list_once(spark, monkeypatch):
    """Guard for the one-time edge shuffle: on 4 disjoint 30-cliques the
    whole call writes less than 1.5x the shuffle of repartitioning the
    symmetrized edge list once (the label side and the per-round
    aggregates are the rest), and launches no more jobs than measured.
    Re-shuffling the edges every round (the former plan) writes ~3x.
    The edge partition count (defaultParallelism) and the input
    partitioning are pinned so the counters do not depend on the
    machine's core count."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from tests.conftest import job_counters

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: 4))
    ids = spark.range(0, 4 * 30 * 30, numPartitions=4)
    clique, i, j = F.floor(ids.id / 900), F.floor(ids.id % 900 / 30), ids.id % 30
    pairs = ids.select(
        (clique * 30 + i).alias("doc_id_a"), (clique * 30 + j).alias("doc_id_b")
    ).where(F.col("doc_id_a") < F.col("doc_id_b"))
    symmetrized = pairs.unionByName(
        pairs.select(
            F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b")
        )
    )
    _, edge_bytes = job_counters(
        spark,
        lambda: symmetrized.repartition(4, "doc_id_b")
        .write.format("noop").mode("overwrite").save(),
    )
    out = []
    jobs, total_bytes = job_counters(
        spark, lambda: out.extend(near_dup_groups(pairs).collect())
    )
    assert {r.group_id for r in out} == {0, 30, 60, 90} and len(out) == 120
    assert total_bytes < 1.5 * edge_bytes, (total_bytes, edge_bytes)
    assert jobs <= 10, jobs


def _mutate(base: list[str], rng, words, n: int) -> str:
    t = list(base)
    for _ in range(n):
        t[rng.randrange(len(t))] = rng.choice(words)
    return " ".join(t)


def test_similar_groups_equals_groups_of_similar_pairs(spark):
    """similar_groups must be OUTPUT-EQUIVALENT to
    near_dup_groups(similar_pairs(...)) on a corpus that exercises every
    branch: an identical clique (one Borůvka round collapses it), a
    DRIFTING near-dup chain (multi-round contraction, transitive
    grouping), borderline pairs around the threshold (failed
    representative edges must be deleted and retried, not mislabeled),
    and unrelated background (candidate noise killed by the prefilter)."""
    import random

    from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
    from mapreduce_minhash_lsh_spark.operators.dedup import similar_groups
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs

    rng = random.Random(99)
    words = [
        "alpha", "bravo", "china", "delta", "echos", "foxes", "golfs",
        "hotel", "india", "julia", "kilos", "limas", "mikes", "novas",
    ]
    rows = []
    # identical 15-clique
    rows += [(i, "identical boilerplate clique text body") for i in range(15)]
    # drifting chain: each member mutates the previous slightly — adjacent
    # pairs are near-dups, ends are not; the component spans the chain
    base = [rng.choice(words) for _ in range(30)]
    for i in range(10):
        rows.append((100 + i, " ".join(base)))
        base[rng.randrange(len(base))] = rng.choice(words)
    # borderline family: larger mutations so some pairs fall just below
    # the threshold (candidate edges that FAIL verification)
    base2 = [rng.choice(words) for _ in range(12)]
    for i in range(8):
        rows.append((200 + i, _mutate(base2, rng, words, rng.randrange(4))))
    # background
    for i in range(80):
        rows.append((1000 + i, " ".join(rng.choice(words) for _ in range(14))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for threshold in (0.8, 0.6):
        cfg = MinHashLSHConfig(num_hashes=16, num_bands=8, threshold=threshold)
        want = sorted(
            map(
                tuple,
                near_dup_groups(
                    similar_pairs(docs, cfg, threshold=threshold)
                ).collect(),
            )
        )
        got = sorted(
            map(tuple, similar_groups(docs, cfg, threshold=threshold).collect())
        )
        assert got == want, f"threshold={threshold}"
        assert len(want) > 15  # the corpus actually grouped things
        # the r14 direct-verify tier and the Borůvka loop must agree:
        # force the loop (budget None) and compare against the default
        # (which takes the direct path at this volume)
        loop = sorted(
            map(
                tuple,
                similar_groups(
                    docs, cfg, threshold=threshold, direct_verify_budget=None
                ).collect(),
            )
        )
        assert loop == want, f"Borůvka path diverged at threshold={threshold}"


def test_similar_groups_capped_and_empty(spark):
    from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
    from mapreduce_minhash_lsh_spark.operators.dedup import similar_groups
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs

    cfg = MinHashLSHConfig(num_hashes=8, num_bands=4)
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert similar_groups(empty_docs, cfg).count() == 0

    docs = spark.createDataFrame(
        [(i, "identical boilerplate text here") for i in range(40)]
        + [(100, "some other words"), (101, "some other words"),
           (200, "entirely unrelated phrasing")],
        ["doc_id", "text"],
    )
    # capped full-recall mode must still reproduce the uncapped groups
    want = sorted(map(tuple, near_dup_groups(
        similar_pairs(docs, cfg, threshold=0.9)
    ).collect()))
    for mode in ("split", "auto"):
        got = sorted(map(tuple, similar_groups(
            docs, cfg, threshold=0.9, max_bucket_size=8, oversize=mode,
        ).collect()))
        assert got == want, mode
        assert {r[1] for r in got} == {0, 100}


def test_materialize_does_not_compound_plan_stats(spark):
    """Checkpoints carry the origin plan's ESTIMATED stats, and join
    estimates multiply children — an iterative operator that re-joins
    its own output doubles the sizeInBytes DIGIT COUNT per round
    (exponential), until planning itself drowns in BigInteger
    multiplication (observed: 40+ driver-minutes in one localCheckpoint
    at the 160x groups probe).  _materialize must strip the carried
    stats so iteration keeps stats at the flat leaf default."""
    from pyspark.sql import functions as F

    from mapreduce_minhash_lsh_spark.operators.similarity import _materialize

    df = _materialize(spark.range(8).select(F.col("id")), None)
    digits = []
    for _ in range(6):
        df = _materialize(
            df.alias("a").join(df.alias("b"), "id").select("id"), None
        )
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits.append(len(str(sz)))
    assert df.count() == 8
    # without the reset, digits ~ [8, 14, 28, 56, 111, 222]; with it the
    # estimate stays the flat per-round default
    assert max(digits) <= digits[0], digits


def test_reset_stats_fallback_warns(spark, monkeypatch):
    # If the private internalCreateDataFrame API drifts away, _reset_stats
    # must warn loudly (the silent fallback restores the exponential-stats
    # pathology it exists to prevent — VERDICT r8).
    import pytest

    from mapreduce_minhash_lsh_spark.operators.similarity import _reset_stats

    df = spark.range(3)
    monkeypatch.setattr(df, "_jdf", None)  # simulates the API vanishing
    with pytest.warns(RuntimeWarning, match="internalCreateDataFrame unavailable"):
        out = _reset_stats(df)
    assert out is df  # fallback returns the input unchanged


def test_reset_stats_happy_path_does_not_warn(spark):
    import warnings

    from mapreduce_minhash_lsh_spark.operators.similarity import _reset_stats

    df = spark.range(3).localCheckpoint(eager=True)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = _reset_stats(df)
    assert out.count() == 3


def test_pair_volume_valve_chunked_equals_unchunked(spark):
    """VERDICT r8 #2: when candidates exceed pair_budget the verify join
    runs in sequential hash chunks — the output must be IDENTICAL to the
    single-join plan (and to the valve-disabled round-8 plan)."""
    from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs
    from mapreduce_minhash_lsh_spark.sources.docgen import register_docgen

    register_docgen(spark)
    docs = (spark.read.format("docgen").option("rows", 240).option("parts", 4)
            .option("seed", 13).option("dup_every", 4).load())
    cfg = MinHashLSHConfig(num_hashes=64, num_bands=8, threshold=0.7)

    def rows(pair_budget):
        out = similar_pairs(docs, cfg, pair_budget=pair_budget)
        return sorted(
            (r.doc_id_a, r.doc_id_b, r.jaccard) for r in out.collect()
        )

    baseline = rows(None)          # round-8 plan, valve fully off
    assert len(baseline) > 10      # enough pairs to chunk meaningfully
    assert rows(10**9) == baseline  # valve on, budget not exceeded
    assert rows(7) == baseline      # forced chunking (many chunks)
    assert rows(len(baseline)) == baseline


def test_pair_volume_valve_warns_when_firing(spark, caplog):
    import logging

    from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs
    from mapreduce_minhash_lsh_spark.sources.docgen import register_docgen

    register_docgen(spark)
    docs = (spark.read.format("docgen").option("rows", 80).option("parts", 2)
            .option("seed", 3).option("dup_every", 4).load())
    cfg = MinHashLSHConfig(num_hashes=64, num_bands=8, threshold=0.7)
    with caplog.at_level(logging.WARNING,
                         logger="mapreduce_minhash_lsh_spark.operators.similarity"):
        similar_pairs(docs, cfg, pair_budget=5).count()
    assert any("pair-volume valve" in r.message for r in caplog.records)


def test_repeated_spans_planted_passage(spark):
    """A passage shared verbatim by two docs must come back as one
    maximal span in each, with correct 1-based word positions; unique
    text and intra-doc-only repeats must not produce spans."""
    from mapreduce_minhash_lsh_spark.operators.dedup import repeated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta epsilon"),
            (2, shared + " zeta eta theta iota kappa"),
            # intra-doc repeat only: same 5-gram twice in ONE doc
            (3, "one two three four five x one two three four five"),
            (4, "totally unrelated words that never repeat anywhere else"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in repeated_spans(docs, n=5, min_grams=2).collect()
    }
    # doc 1: shared passage occupies words 3..12 -> 5-gram starts 3..8
    # doc 2: words 1..10 -> starts 1..6; docs 3/4: nothing cross-doc
    assert out == {(1, 3, 12, 6), (2, 1, 10, 6)}


def test_repeated_spans_max_df_drops_stock_phrases(spark):
    """A gram shared by MORE than max_df docs is treated as a stock
    phrase and produces no spans (the postings bound)."""
    from mapreduce_minhash_lsh_spark.operators.dedup import repeated_spans

    phrase = "all rights reserved by the author"
    docs = spark.createDataFrame(
        [(i, f"doc {i} says " + phrase) for i in range(5)],
        "doc_id long, text string",
    )
    got = repeated_spans(docs, n=3, min_grams=1, max_df=4).collect()
    # only grams fully inside the shared phrase have df=5 (> max_df);
    # grams straddling the distinct "doc {i} says" prefix have df=1 —
    # so nothing survives
    assert got == []


def test_strip_repeated_spans_planted_passage(spark):
    """The transform removes exactly the flagged spans, preserves word
    order of the residue, and keeps untouched docs byte-identical."""
    from mapreduce_minhash_lsh_spark.operators.dedup import strip_repeated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta epsilon"),
            (2, shared + " zeta eta theta iota kappa"),
            (3, "totally unrelated words that never repeat anywhere else"),
            (4, shared),  # boilerplate end to end -> empty residue
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in strip_repeated_spans(docs, n=5, min_grams=2).collect()}
    assert got == {
        1: "alpha beta gamma delta epsilon",
        2: "zeta eta theta iota kappa",
        3: "totally unrelated words that never repeat anywhere else",
        4: "",
    }


def test_repeated_spans_xxhash_strategy_same_spans(spark):
    """The production xxhash gram ids must produce the identical span
    set as the oracle md5 ids (the id only names the gram)."""
    from mapreduce_minhash_lsh_spark.operators.dedup import repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "z z a b c d e f g q"),
         (3, "nothing in common here at all ok")],
        "doc_id long, text string",
    )
    md5 = sorted(map(tuple, repeated_spans(docs, n=3, min_grams=1).collect()))
    xx = sorted(map(tuple, repeated_spans(
        docs, n=3, min_grams=1, id_strategy="xxhash").collect()))
    assert md5 == xx and len(md5) > 0


def test_repeated_spans_releases_gram_cache(spark):
    """The gram relation is cached for the call's two consumers only
    (VERDICT r9 #6): nothing persisted may outlive repeated_spans /
    strip_repeated_spans, and the xxhash production gram id is reachable
    from the transform form too (ADVICE r9)."""
    from mapreduce_minhash_lsh_spark.operators.dedup import (
        repeated_spans,
        strip_repeated_spans,
    )

    def cache_empty() -> bool:
        # df.persist() registers in the CacheManager (session-pinned until
        # an explicit unpersist); localCheckpoint blocks do NOT — they are
        # freed by driver GC with the result's lifetime, the intended
        # convention.  The leak under test is the former.
        return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f x y"), (3, "q r s t u v")],
        ["doc_id", "text"],
    )
    spark.catalog.clearCache()
    spans = repeated_spans(docs, n=3, min_grams=1)
    assert cache_empty()  # eager result, gram cache released
    md5_out = {r.doc_id: r.text for r in strip_repeated_spans(docs, n=3, min_grams=1).collect()}
    assert cache_empty()
    xx_out = {
        r.doc_id: r.text
        for r in strip_repeated_spans(docs, n=3, min_grams=1, id_strategy="xxhash").collect()
    }
    assert xx_out == md5_out  # gram-id scheme never changes the spans
    assert spans.count() > 0


def test_edit_distance_pairs_releases_shingle_cache(spark):
    """edit_distance_pairs persists its shingle relation for the
    signature pass only: no persisted RDD may outlive the query.
    Local-checkpoint RDDs (the eager results) are excluded — they are
    freed by driver GC with the result's lifetime."""
    from mapreduce_minhash_lsh_spark import registry
    from tests.conftest import SF_SMALL

    def persisted() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return {r.id() for r in rdds if not r.isCheckpointed()}

    before = persisted()
    out = registry.queries()["edit_distance_pairs"](spark, SF_SMALL)
    assert out.count() > 0
    assert persisted() - before == set()


def test_candidate_volume_bound_gates_the_barrier(spark, monkeypatch):
    """VERDICT r9 #2: the valve's always-on candidate persist+count is
    replaced by a bucket-size pair-volume BOUND computed before the pair
    join.  (a) the bound dominates the true distinct candidate count,
    symmetric and cross-corpus; (b) when the bound fits the budget the
    barrier is provably skipped (a poisoned DataFrame.persist never
    fires) and the output is unchanged."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
    from mapreduce_minhash_lsh_spark.operators.lsh import (
        banded_pairs,
        candidate_volume_bound,
    )
    from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        signature_set_relation,
        similar_pairs,
    )
    from mapreduce_minhash_lsh_spark.sources.docgen import register_docgen

    register_docgen(spark)
    docs = (spark.read.format("docgen").option("rows", 120).option("parts", 2)
            .option("seed", 7).option("dup_every", 4).load())
    cfg = MinHashLSHConfig(num_hashes=64, num_bands=8, threshold=0.7)
    rel = signature_set_relation(explode_shingles(docs, cfg.k), cfg)

    # (a) bound >= true candidates, both join shapes
    bound = candidate_volume_bound(rel, cfg)
    assert bound >= banded_pairs(rel, cfg).count()
    half_a = rel.where(F.col("doc_id") % 2 == 0)
    half_b = rel.where(F.col("doc_id") % 2 == 1)
    xbound = candidate_volume_bound(half_a, cfg, rel_b=half_b)
    assert xbound >= banded_pairs(half_a, cfg, sig_b=half_b).count()

    # (b) benign scale: bound <= budget -> no persist barrier at all
    want = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in similar_pairs(docs, cfg, pair_budget=None).collect()
    )

    def _poisoned_persist(self, *a, **k):
        raise AssertionError("barrier persist fired on the benign path")

    monkeypatch.setattr(DataFrame, "persist", _poisoned_persist)
    got = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in similar_pairs(docs, cfg, pair_budget=10**9).collect()
    )
    assert got == want


def test_hybrid_dedup_parameterized_sqrt_n_semantics(spark):
    """VERDICT r12 #3 (hybrid geometry): the library form with
    n_lists=None (the sqrt(n) default) must keep the drop-set
    SEMANTICS — every by_text drop is a non-minimum member of a text
    near-dup group, every by_embedding drop is the higher end of a
    true above-threshold cosine pair (cell-scoping only prunes), and
    every returned row carries at least one reason flag."""
    from mapreduce_minhash_lsh_spark.operators.ann import cosine_pairs
    from mapreduce_minhash_lsh_spark.operators.dedup import (
        hybrid_dedup_drop_ids,
        near_dup_groups,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import similar_pairs
    from mapreduce_minhash_lsh_spark.queries._base import PIPELINE_CFG
    from mapreduce_minhash_lsh_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")
    out = hybrid_dedup_drop_ids(docs, emb, PIPELINE_CFG, threshold=0.4).collect()
    assert out
    assert all(r.by_text or r.by_embedding for r in out)
    # Text side is deterministic: exactly the non-min group members.
    groups = near_dup_groups(similar_pairs(docs, PIPELINE_CFG))
    text_expect = {
        r.doc_id for r in groups.where(F.col("doc_id") != F.col("group_id")).collect()
    }
    assert {r.doc_id for r in out if r.by_text} == text_expect
    # Embedding side at sqrt(n) cells: subset of the exhaustive pairs'
    # higher ends (pruning never invents a duplicate).
    exact_higher = {r.vec_id_b for r in cosine_pairs(emb, threshold=0.4).collect()}
    emb_drops = {r.doc_id for r in out if r.by_embedding}
    assert emb_drops <= exact_higher
