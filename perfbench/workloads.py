"""The three workloads: corpus, set-up, the timed run, its traced twin and
the expected output.

Timed runs go through the engine's public entry points (the registry
queries, or the band-store operators).  The traced twin calls the same
public layer functions one at a time, with the arguments the entry point
passes, each inside a span.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import corpus
import oracle

# Corpus sizes.  Chosen so one timed run takes a few seconds on a 4-core
# machine while each workload keeps the layer balance it exists to show
# (README.md has the measured shares).
SPARSE_DOCS, SPARSE_DUP = 3000, 0.05
CLUSTER_DOCS, CLUSTER_SIZE, CLUSTERED = 1500, 100, 0.8
SEEN_DOCS, NEW_DOCS, NEW_DUP = 1500, 400, 0.1

LAYERS = ("sources", "minhash", "lsh", "verify", "dedup", "bandstore")


def _noop(df) -> None:
    """Materialize every output column executor-side and discard the rows
    (``bench.py``'s ``_materialize`` convention)."""
    df.write.format("noop").mode("overwrite").save()


def _cfg():
    from mapreduce_minhash_lsh_spark import registry

    return registry.PIPELINE_CFG


def _query(name: str):
    from mapreduce_minhash_lsh_spark import registry

    return registry.queries()[name]


def _oracle_pairs(docs_dir: Path, cache: Path) -> list[tuple]:
    """The DuckDB ``similar_pairs`` oracle over ``docs_dir``, cached."""
    key = "similar_pairs-" + oracle.digest(docs_dir / "documents.parquet")
    return oracle.cached(cache, key, lambda: oracle.duckdb_similar_pairs(docs_dir))


def _traced_pairs(spark, table_dir: Path, tracer, counts: dict):
    """``similarity.similar_pairs`` one layer at a time, mirroring
    ``similar_pairs_from_shingles`` with its default arguments."""
    from pyspark.sql import functions as F

    from mapreduce_minhash_lsh_spark.operators import lsh, shingling, similarity
    from mapreduce_minhash_lsh_spark.sources.tables import load_table

    cfg = _cfg()
    budget = similarity.PAIR_VERIFY_BUDGET
    with tracer.span("sources"):
        docs = load_table(spark, str(table_dir), "documents")
    with tracer.span("minhash"):
        rel = similarity.signature_set_relation(
            shingling.explode_shingles(docs, cfg.k), cfg, None, eager=False
        )
        n_docs = rel.count()  # the lazy checkpoint's materializing action
    with tracer.span("verify"):
        with tracer.span("lsh"):
            cands = lsh.banded_pairs(rel, cfg)
            counts["lsh.candidates"] = cands.count()
        est = n_docs * (n_docs - 1) // 2
        if est > 2 * budget:
            est = lsh.candidate_volume_bound(rel, cfg)
        overlap = similarity.budgeted_overlap_counts(
            cands, rel, cfg, cfg.threshold, None, est_volume=est
        )
        pairs = (
            overlap.where(F.col("nc") > 0)
            .select(
                "doc_id_a", "doc_id_b",
                (F.col("nc").cast("double")
                 / (F.col("na") + F.col("nb") - F.col("nc"))).alias("jaccard"),
            )
            .where(F.col("jaccard") >= cfg.threshold)
        )
    # Counts below read the checkpointed overlap relation outside any span.
    n_cand = overlap.count()
    counts["verify.prefilter_pass_ratio"] = (
        overlap.where(F.col("nc") >= 0).count() / n_cand if n_cand else 0.0
    )
    counts["shingling.rows"] = shingling.explode_shingles(docs, cfg.k).count()
    return pairs


class Workload:
    name = ""
    why = ""
    warmup_runs = 1  # untimed runs that end set-up
    expected_pairs: int | None = None  # recorded with every result

    def __init__(self, seed: int, work: Path, cache: Path):
        self.seed, self.work, self.cache = seed, work, cache
        self.docs_dir = work / "docs"

    def generate(self) -> dict:
        """Write the corpus; return its shape for the result record."""
        raise NotImplementedError

    def expected_before_spark(self) -> list[tuple] | None:
        """Expected rows that need no Spark session; None when they come
        from :meth:`expected` instead."""
        return None

    def expected(self, spark) -> list[tuple]:
        """Expected rows computed in the benchmark's Spark session."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        """One-off preparation billed to setup_s."""

    def prepare(self) -> None:
        """Untimed preparation before every run."""

    def run(self, spark):
        raise NotImplementedError

    def traced(self, spark, tracer, counts: dict):
        raise NotImplementedError

    def rows(self, out) -> list[tuple]:
        return [tuple(r) for r in out.collect()]

    def extra_check(self, spark) -> str | None:
        return None


class PairsSparse(Workload):
    name = "pairs_sparse"
    why = ("similar_pairs over mostly unique docs: signature throughput "
           "dominates, LSH and verify stay nearly idle")

    def generate(self) -> dict:
        c = corpus.sparse_pairs(self.seed, SPARSE_DOCS, SPARSE_DUP)
        corpus.write_documents(c, self.docs_dir)
        return c.shape()

    def expected_before_spark(self) -> list[tuple]:
        pairs = _oracle_pairs(self.docs_dir, self.cache)
        self.expected_pairs = len(pairs)
        return pairs

    def run(self, spark):
        out = _query("similar_pairs")(spark, str(self.docs_dir))
        _noop(out)
        return out

    def traced(self, spark, tracer, counts: dict):
        pairs = _traced_pairs(spark, self.docs_dir, tracer, counts)
        with tracer.span("verify"):
            _noop(pairs)
        counts["verify.pairs_out"] = pairs.count()
        return pairs


class DroplistClustered(Workload):
    name = "droplist_clustered"
    why = ("near_dup_drop_ids over near-dup clusters of 100: candidate "
           "volume is quadratic per cluster, so lsh, verify and dedup dominate")

    def generate(self) -> dict:
        c = corpus.clustered(self.seed, CLUSTER_DOCS, CLUSTER_SIZE, CLUSTERED)
        corpus.write_documents(c, self.docs_dir)
        return c.shape()

    def expected_before_spark(self) -> list[tuple]:
        pairs = _oracle_pairs(self.docs_dir, self.cache)
        self.expected_pairs = len(pairs)
        return oracle.drop_list(pairs)

    def run(self, spark):
        out = _query("near_dup_drop_ids")(spark, str(self.docs_dir))
        _noop(out)
        return out

    def traced(self, spark, tracer, counts: dict):
        from pyspark.sql import functions as F

        from mapreduce_minhash_lsh_spark.operators import dedup

        pairs = _traced_pairs(spark, self.docs_dir, tracer, counts)
        with tracer.span("dedup"):
            groups = dedup.near_dup_groups(pairs, prepared=True)
            out = groups.where(F.col("doc_id") != F.col("group_id")).select(
                F.col("doc_id").alias("drop_id"),
                F.col("group_id").alias("keep_id"),
            )
            _noop(out)
        counts["verify.pairs_out"] = pairs.count()
        counts["dedup.groups"] = groups.select("group_id").distinct().count()
        return out


class IngestStore(Workload):
    name = "ingest_store"
    why = ("band-store ingest: query a new batch against a stored seen "
           "corpus, then extend the store with it (reads beside writes)")
    # After one warm-up the next run is still 25-35% slower than the one
    # after it (JIT), which made the median of two timed runs swing by ~20%
    # from seed to seed.
    warmup_runs = 2

    def __init__(self, seed: int, work: Path, cache: Path):
        super().__init__(seed, work, cache)
        self.seen_dir, self.new_dir = work / "seen", work / "new"
        self.pristine, self.store = work / "store0", work / "store"

    def generate(self) -> dict:
        seen, new = corpus.seen_and_new(self.seed, SEEN_DOCS, NEW_DOCS, NEW_DUP)
        corpus.write_documents(seen, self.seen_dir)
        corpus.write_documents(new, self.new_dir)
        self._n_docs = len(seen.docs) + len(new.docs)
        return {"seen_docs": len(seen.docs), **new.shape()}

    def _docs(self, spark, d: Path):
        from mapreduce_minhash_lsh_spark.sources.tables import load_table

        return load_table(spark, str(d), "documents")

    def setup(self, spark) -> None:
        from mapreduce_minhash_lsh_spark.operators.bandstore import build_band_store

        shutil.rmtree(self.pristine, ignore_errors=True)
        build_band_store(self._docs(spark, self.seen_dir), _cfg(), str(self.pristine))

    def expected(self, spark) -> list[tuple]:
        from mapreduce_minhash_lsh_spark.operators.similarity import cross_corpus_pairs

        key = "cross_corpus_pairs-" + oracle.digest(
            self.seen_dir / "documents.parquet", self.new_dir / "documents.parquet"
        )
        pairs = oracle.cached(self.cache, key, lambda: cross_corpus_pairs(
            self._docs(spark, self.new_dir), self._docs(spark, self.seen_dir), _cfg()
        ).collect())
        self.expected_pairs = len(pairs)
        return pairs

    def prepare(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.pristine, self.store)

    def run(self, spark):
        from mapreduce_minhash_lsh_spark.operators.bandstore import (
            build_band_store,
            cross_pairs_against_store,
        )

        new = self._docs(spark, self.new_dir)
        out = cross_pairs_against_store(new, _cfg(), str(self.store))
        _noop(out)
        build_band_store(new, _cfg(), str(self.store))
        return out

    def traced(self, spark, tracer, counts: dict):
        from mapreduce_minhash_lsh_spark.operators import bandstore, shingling

        with tracer.span("sources"):
            new = self._docs(spark, self.new_dir)
        with tracer.span("bandstore"):
            out = bandstore.cross_pairs_against_store(new, _cfg(), str(self.store))
            _noop(out)
        with tracer.span("bandstore"):
            bandstore.build_band_store(new, _cfg(), str(self.store))
        counts["shingling.rows"] = shingling.explode_shingles(new, _cfg().k).count()
        return out

    def extra_check(self, spark) -> str | None:
        """The extended store holds every seen and new document once."""
        n, distinct = spark.read.parquet(str(self.store / "signatures")).selectExpr(
            "count(*)", "count(DISTINCT doc_id)"
        ).first()
        if n != self._n_docs or distinct != n:
            return f"store has {n} signature rows, {distinct} ids; want {self._n_docs}"
        return None


WORKLOADS = {w.name: w for w in (PairsSparse, DroplistClustered, IngestStore)}
