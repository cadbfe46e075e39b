"""Seeded corpus generator for the benchmark workloads.

Generation lives here, outside the engine, so that it is never billed to
the program: each workload writes its corpus to parquet before any timer
starts and the engine only ever sees the files.

Text is word soup shaped like the testdata ``documents`` table: the same
31-word vocabulary and 30-70 tokens (~300 chars) per document.  A near
duplicate is its source text with one token replaced, which keeps the
char-3-gram Jaccard of a planted pair around 0.9, above the flagship's
0.8 threshold.  Everything is a function of (workload, seed) only.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_TOKENS, MAX_TOKENS = 30, 70

# Ids of the ``ingest_store`` new batch start here, so they never collide
# with the seen corpus (the band store and cross_corpus_pairs require ids
# unique across both sides).
NEW_ID_BASE = 10_000_000


@dataclass
class Corpus:
    """Generated documents plus the shape facts recorded with a result."""

    docs: list[tuple[int, str]]
    planted_pairs: int = 0
    cluster_size: int = 0
    dup_docs: int = 0

    def shape(self) -> dict:
        n = len(self.docs)
        return {
            "docs": n,
            "mean_chars": round(sum(len(t) for _, t in self.docs) / n, 1),
            "dup_fraction": round(self.dup_docs / n, 4),
            "cluster_size": self.cluster_size,
            "planted_pairs": self.planted_pairs,
        }


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(zlib.crc32(workload.encode()) * 1_000_003 + seed)


def _text(rng: random.Random, n: int | None = None) -> str:
    n = rng.randint(MIN_TOKENS, MAX_TOKENS) if n is None else n
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _near_dup(rng: random.Random, text: str, last: bool = False) -> str:
    """``text`` with one token (the last one if ``last``) replaced."""
    toks = text.split(" ")
    i = len(toks) - 1 if last else rng.randrange(len(toks))
    toks[i] = rng.choice([w for w in VOCAB if w != toks[i]])
    return " ".join(toks)


def _with_ids(texts: list[str], rng: random.Random, base: int = 0):
    """Shuffle so duplicates are scattered over ids and input partitions."""
    rng.shuffle(texts)
    return [(base + i, t) for i, t in enumerate(texts)]


def sparse_pairs(seed: int, n_docs: int, dup_fraction: float) -> Corpus:
    """Mostly unique documents; ``dup_fraction`` of them sit in planted
    near-duplicate pairs."""
    rng = _rng("pairs_sparse", seed)
    n_pairs = round(n_docs * dup_fraction / 2)
    texts = [_text(rng) for _ in range(n_docs - n_pairs)]
    texts += [_near_dup(rng, texts[i]) for i in range(n_pairs)]
    return Corpus(_with_ids(texts, rng), planted_pairs=n_pairs,
                  cluster_size=2, dup_docs=2 * n_pairs)


def clustered(seed: int, n_docs: int, cluster_size: int,
              clustered_fraction: float) -> Corpus:
    """``clustered_fraction`` of the documents in near-duplicate clusters:
    each member is the cluster's root text with its last token replaced
    (a templated page with a varying footer), so any two members differ in
    that token only and every cluster is a near-complete similarity graph.
    Root lengths are spread evenly over the token range, so that the few
    roots the corpus is made of do not swing its size from seed to seed."""
    rng = _rng("droplist_clustered", seed)
    n_clusters = round(n_docs * clustered_fraction / cluster_size)
    span = MAX_TOKENS - MIN_TOKENS
    lengths = [MIN_TOKENS + i * span // max(n_clusters - 1, 1)
               for i in range(n_clusters)]
    rng.shuffle(lengths)
    texts = []
    for n in lengths:
        root = _text(rng, n)
        texts += [root] + [_near_dup(rng, root, last=True)
                          for _ in range(cluster_size - 1)]
    texts += [_text(rng) for _ in range(n_docs - len(texts))]
    clustered_docs = n_clusters * cluster_size
    return Corpus(
        _with_ids(texts, rng),
        planted_pairs=n_clusters * cluster_size * (cluster_size - 1) // 2,
        cluster_size=cluster_size, dup_docs=clustered_docs,
    )


def seen_and_new(seed: int, n_seen: int, n_new: int,
                 dup_fraction: float) -> tuple[Corpus, Corpus]:
    """A seen corpus and a disjoint-id new batch in which ``dup_fraction``
    of the documents near-duplicate a seen document."""
    rng = _rng("ingest_store", seed)
    seen = [_text(rng) for _ in range(n_seen)]
    n_dup = round(n_new * dup_fraction)
    new = [_near_dup(rng, rng.choice(seen)) for _ in range(n_dup)]
    new += [_text(rng) for _ in range(n_new - n_dup)]
    return (
        Corpus(_with_ids(seen, rng)),
        Corpus(_with_ids(new, rng, NEW_ID_BASE), planted_pairs=n_dup,
               cluster_size=2, dup_docs=n_dup),
    )


def write_documents(corpus: Corpus, table_dir: Path) -> Path:
    """Write ``<table_dir>/documents.parquet`` — the layout
    ``sources.tables.load_table(spark, table_dir, "documents")`` reads.
    One file with fixed writer options, so equal corpora give equal bytes."""
    table_dir.mkdir(parents=True, exist_ok=True)
    ids, texts = zip(*corpus.docs)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    path = table_dir / "documents.parquet"
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return path
