"""Shingling operators — the reference's job 1 (Shingling.java) rebuilt.

Reference job 1: map each line to its char 3-grams, shuffle on shingle,
reduce to `shingle -> csv-joined posting list` (Shingling.java:33-65) with
a map-side combiner (:45-54).  In Spark the combiner is the automatic
partial aggregation inside ``groupBy().agg()`` — no user code (SURVEY.md §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.functions.shingles import shingle_array, shingle_set


def explode_shingles(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """documents -> (doc_id, shingle), one row per (doc, k-gram).

    ``distinct=True`` gives set semantics (what MinHash/Jaccard need);
    ``distinct=False`` preserves multiplicity like the reference's posting
    lists (P1, Shingling.java:33-42).  Empty texts yield no rows.
    """
    arr = shingle_set(F.col(text_col), k) if distinct else shingle_array(F.col(text_col), k)
    return (
        docs.where(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col).alias("doc_id"), F.explode(arr).alias("shingle"))
    )


def by_doc_id(docs: DataFrame) -> DataFrame:
    """``docs`` hash-partitioned on ``doc_id`` — the input shape for a
    per-document aggregate over its exploded shingles.

    Shuffling the text costs ~1 byte per character; shuffling the
    aggregate's partials instead (the fused (sig, sh_set) relation
    carries one 8-byte id per distinct shingle) costs ~8.  With the
    text already clustered by doc_id, Catalyst runs the explode and
    the partial and final aggregates in one stage, and the aggregate
    adds no exchange of its own (SCALE.md §1).  The exchange is
    ``repartition("doc_id")``, which adaptive execution may coalesce,
    so a small corpus still aggregates in one task.

    A relation already hash-partitioned on doc_id alone — what
    ``load_table`` returns for documents of 128 KB or more — is
    returned unchanged: a second repartition would collapse into the
    first and drop its partition count.
    """
    part = docs._jdf.queryExecution().sparkPlan().outputPartitioning()
    if re.fullmatch(r"hashpartitioning\(doc_id#\d+L?, \d+\)", part.toString()):
        return docs
    return docs.repartition("doc_id")


def shingle_postings(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted index: shingle -> sorted posting list of doc ids
    (A1/A2, Shingling.java:45-65; multiplicity preserved to match the
    committed golden output, e.g. "oth" -> [57, 57])."""
    return (
        explode_shingles(docs, k, id_col, text_col, distinct=False)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    )


def vocabulary(doc_shingles: DataFrame, prefix_len: int = 2) -> DataFrame:
    """Distinct shingles with a dense 1-based lexicographic rank
    (shingle_id) — the deterministic id domain for the 'rank' MinHash
    strategy and its DuckDB oracle twin.

    The reference's vocabulary is the keySet of job 1's output, iterated in
    HashMap order (MinHashLSH.java:55-71,80) — nondeterministic; the rank
    fixes that.

    Scale shape: a bare ``row_number().over(Window.orderBy(...))`` is a
    single-task global sort — the one plan WindowExec warns about.
    Instead the rank is computed distributively: partition the window by
    the shingle's ``prefix_len``-char prefix (lexicographically
    consistent with whole-string order, so per-bucket rank + bucket
    offset == the global rank exactly), and take bucket offsets from a
    cumulative sum over the per-prefix counts — a window over at most
    |alphabet|^prefix_len rows, broadcast back.  Per-task work is one
    prefix bucket (~vocab/|prefixes|); nothing global remains.  The
    'xxhash' strategy still skips the vocabulary entirely and is the
    preferred production path (no vocabulary shuffle at all).
    """
    distinct = (
        doc_shingles.select("shingle")
        .distinct()
        .withColumn("_bkt", F.substring("shingle", 1, prefix_len))
    )
    offsets = (
        distinct.groupBy("_bkt")
        .agg(F.count("*").alias("_n"))
        .select(
            "_bkt",
            (
                F.sum("_n").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("_n")
            ).alias("_offset"),
        )
    )
    within = F.row_number().over(Window.partitionBy("_bkt").orderBy("shingle"))
    return (
        distinct.join(F.broadcast(offsets), "_bkt")
        .select(
            "shingle",
            (F.col("_offset") + within).cast("long").alias("shingle_id"),
        )
    )


def expand_weighted_shingles(
    docs: DataFrame,
    k: int = 3,
    cap: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle#i) expansion for WEIGHTED Jaccard: each shingle
    appears once per occurrence up to ``cap`` (suffix #1..#tf).

    For tf weights capped at ``cap``,

        sum_s min(tf_a, tf_b) / sum_s max(tf_a, tf_b)
        == |expand(A) n expand(B)| / |expand(A) u expand(B)|

    — weighted Jaccard IS plain set Jaccard on the expanded relation,
    so the entire MinHash/LSH/verify pipeline (and its DuckDB oracle)
    runs unchanged on this output: weighted near-dup detection costs
    one map-side projection, nothing else.  The cap bounds the
    expansion to <= cap x the distinct-shingle relation and makes
    repetition saturate (a page that repeats its boilerplate 100x is
    not 100x more similar to another copy of it).  Fixed-k shingles
    make the '#i' suffix parse unambiguous.

    MAP-SIDE (r15, guide §2.4 — remove shuffles outright): every
    occurrence of a shingle lives in the SAME input row (the document),
    so the per-(doc, shingle) tf never needs a shuffle.  The previous
    form exploded the raw occurrence relation and ran a
    groupBy(doc_id, shingle) count — a full exchange of the widest
    relation of the weighted pipeline, paid before the flagship's own
    signature aggregate.  Here the k-gram array is sorted per document
    (equal grams become contiguous), so an occurrence's rank is decided
    by at most ``cap`` look-backs: position i holds rank r iff
    s[i-1..i-r+1] == s[i] and s[i-r] != s[i] — O(cap) comparisons per
    gram, whole-stage codegen, zero exchanges.  The emitted multiset
    {shingle || '#' || r : 1 <= r <= min(tf, cap)} is identical by
    construction (tests pin row-level equality against the aggregate
    form on the golden corpus).
    """
    c = F.col(text_col)
    d = docs.where(F.length(c) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(shingle_array(c, k)).alias("_s"),
    )
    s = F.col("_s")

    def _suffixed(x: F.Column, i: F.Column) -> F.Column:
        # rank-(cap+1)-or-more occurrences are dropped (NULL, filtered
        # below); get() is 0-based and NULL out of bounds, and grams are
        # never NULL, so eqNullSafe treats the array edge as "different
        # gram" exactly like a run starting at position 0.
        expr = F.lit(None).cast("string")
        for r in range(cap, 0, -1):
            differs = ~F.get(s, i - F.lit(r)).eqNullSafe(x)
            expr = F.when(differs, F.concat_ws("#", x, F.lit(str(r)))).otherwise(expr)
        return expr

    expanded = F.filter(F.transform(s, _suffixed), lambda e: e.isNotNull())
    return d.select("doc_id", F.explode(expanded).alias("shingle"))
