"""Flagship MinHash/LSH family: shingling -> signatures -> bands ->
candidates -> verified pairs, plus the word/weighted/paragraph/OPH/
containment/cross-corpus/incremental variants.
"""

from __future__ import annotations

from mapreduce_minhash_lsh_spark.queries._base import (  # noqa: F401
    DataFrame,
    F,
    MinHashLSHConfig,
    SparkSession,
    Window,
    _AGREE_CTE,
    _BANDS_CTE,
    _CAND_CTE,
    _CFG,
    _IDS_CTE,
    _JACCARD_CTE,
    _K,
    _P,
    _PIPELINE_CTES,
    _SH_CTE,
    _SIG_CTE,
    _VOCAB_CTE,
    _md5_parse_sql,
    _min_agree,
    band_keys,
    banded_pairs,
    cross_corpus_pairs,
    explode_shingles,
    load_table,
    minhash_signatures_array,
    register,
    shingle_postings,
    signatures_long,
    similar_pairs,
    symmetric_pairs,
    vocabulary,
)
from mapreduce_minhash_lsh_spark.queries._shared import (  # noqa: F401
    _BUCKET_SQL,
    _text,
)



# --------------------------------------------------------------------------
# Pipeline queries (SURVEY.md §2: P1-P6, A1-A4, J1, F1-F4)
# --------------------------------------------------------------------------

@register("shingling", f"WITH {_SH_CTE} SELECT doc_id, shingle FROM sh")
def q_shingling(spark: SparkSession, sf: str) -> DataFrame:
    """P1: overlapping char-3-shingles, set semantics (Shingling.java:33-42)."""
    return explode_shingles(load_table(spark, sf, "documents"), _CFG.k)


@register(
    "shingle_postings",
    f"""WITH psh AS (
  SELECT doc_id, rpad(substr(text, CAST(i AS INTEGER), {_K}), {_K}, ' ') AS shingle
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        FROM documents WHERE length(text) > 0)
)
SELECT shingle,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
       count(*) AS n_postings
FROM psh GROUP BY shingle""",
)
def q_shingle_postings(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2: inverted index with multiplicity (Shingling.java:45-65);
    posting list as a sorted comma-joined string for cross-engine hashing."""
    docs = load_table(spark, sf, "documents")
    return shingle_postings(docs).select(
        "shingle",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids"),
        F.size("doc_ids").cast("long").alias("n_postings"),
    )


@register("vocabulary", f"WITH {_SH_CTE}, {_VOCAB_CTE} SELECT shingle, shingle_id FROM vocab")
def q_vocabulary(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic vocabulary (fixes MinHashLSH.java:55-80 HashMap order)."""
    return vocabulary(explode_shingles(load_table(spark, sf, "documents"), _CFG.k))


@register(
    "minhash_signatures",
    f"WITH {_SH_CTE}, {_VOCAB_CTE}, {_SIG_CTE} "
    "SELECT doc_id, CAST(h AS INTEGER) AS h, minhash FROM sig",
)
def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """P3: seeded universal-hash MinHash (replaces MinHashLSH.java:87-109)."""
    sh = explode_shingles(load_table(spark, sf, "documents"), _CFG.k)
    return signatures_long(sh, _CFG)


@register(
    "lsh_bands",
    f"WITH {_SH_CTE}, {_VOCAB_CTE}, {_SIG_CTE}, {_BANDS_CTE} "
    "SELECT doc_id, band, band_key FROM bands",
)
def q_lsh_bands(spark: SparkSession, sf: str) -> DataFrame:
    """P4 with the band index IN the key (fixes MinHashLSH.java:138-142)."""
    sh = explode_shingles(load_table(spark, sf, "documents"), _CFG.k)
    return band_keys(minhash_signatures_array(sh, _CFG), _CFG)


@register(
    "candidate_pairs",
    f"WITH {_SH_CTE}, {_VOCAB_CTE}, {_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE} "
    "SELECT doc_id_a, doc_id_b FROM cand",
)
def q_candidate_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """J1/F2: band-bucket equi-self-join candidates (MinHashLSH.java:168-193
    rebuilt as a join, not a single quadratic reducer)."""
    sh = explode_shingles(load_table(spark, sf, "documents"), _CFG.k)
    return banded_pairs(minhash_signatures_array(sh, _CFG), _CFG)


@register(
    "candidate_pairs_split",
    f"WITH {_SH_CTE}, {_VOCAB_CTE}, {_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE} "
    "SELECT doc_id_a, doc_id_b FROM cand",
)
def q_candidate_pairs_split(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-bucket triangle-split candidates (lsh.py:banded_pairs
    oversize='split'): a tiny cap forces most buckets through the split
    path, and the oracle is the UNCAPPED candidate SQL — split mode is
    full-recall by construction, and this proves it on the real corpus."""
    sh = explode_shingles(load_table(spark, sf, "documents"), _CFG.k)
    return banded_pairs(
        minhash_signatures_array(sh, _CFG), _CFG, max_bucket_size=3, oversize="split"
    )


# Boilerplate-clique skew probe for the HEADLINE bench (VERDICT r4 #8):
# 2% of docs are rewritten into one near-identical boilerplate clique (7
# sub-variants), so every band gets a hot bucket — the capped flagship's
# policy layer is what is being measured round-over-round.  At sf0.01 the
# 120-member clique stays below the 512 auto-split threshold (plain join,
# AQE); at sf0.1 the 1000-member clique crosses it and exercises the
# triangle split.  'auto' is full recall, so the oracle is the UNCAPPED
# pipeline SQL on the same rewritten corpus.
_SKEW_BOILER = (
    "terms of service apply to every page of this website please read "
    "all provisions carefully before continuing variant "
)
_SKEW_DOCS_CTE = f"""
skdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 50 = 0
              THEN '{_SKEW_BOILER}' || CAST(doc_id % 7 AS VARCHAR)
              ELSE text END AS text
  FROM documents
)"""
_SKEW_PIPELINE_CTES = _SKEW_DOCS_CTE + "," + _PIPELINE_CTES.replace(
    "FROM documents", "FROM skdocs"
)


@register(
    "skew_similar_pairs",
    f"WITH {_SKEW_PIPELINE_CTES} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}",
)
def q_skew_similar_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Capped flagship (max_bucket_size=256, oversize='auto',
    auto_split_threshold=512) on the boilerplate-clique rewrite of the
    corpus — the skew-policy regression guard in bench.py's HEADLINE."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(
                F.lit(_SKEW_BOILER), (F.col("doc_id") % 7).cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return similar_pairs(
        docs, _CFG, max_bucket_size=256, oversize="auto",
        auto_split_threshold=512,
    )


@register(
    "similar_pairs",
    f"WITH {_PIPELINE_CTES} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}",
)
def q_similar_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship: LSH candidates + exact shingle-set Jaccard >= 0.8 — the
    intended semantics of the whole reference pipeline (README.md:2-3)."""
    return similar_pairs(load_table(spark, sf, "documents"), _CFG)


# Word-bigram variant of the flagship: the shingle UNIT is orthogonal to
# the MinHash/LSH/verify machinery, so the CTE chain is reused verbatim —
# only the `sh` relation (and the prefilter cutoff for the 0.7 threshold)
# changes.  Word n-grams are what web-scale text dedup actually buckets
# on; char-3-grams are the reference's unit.
_WORD_SH_CTE = """
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE len(string_split(text, ' ')) >= 2))
)"""

_WORD_THRESHOLD = 0.7

_WORD_AGREE_CTE = f"""
candf AS (
  SELECT c.doc_id_a, c.doc_id_b
  FROM cand c
  JOIN sig ga ON ga.doc_id = c.doc_id_a
  JOIN sig gb ON gb.doc_id = c.doc_id_b AND gb.h = ga.h
  GROUP BY c.doc_id_a, c.doc_id_b
  HAVING SUM(CASE WHEN ga.minhash = gb.minhash THEN 1 ELSE 0 END)
         >= {_min_agree(_CFG, _WORD_THRESHOLD)}
)"""

_WORD_PIPELINE_CTES = ",".join(
    [_WORD_SH_CTE, _VOCAB_CTE, _SIG_CTE, _BANDS_CTE, _CAND_CTE,
     _WORD_AGREE_CTE, _JACCARD_CTE]
)


@register(
    "word_similar_pairs",
    f"WITH {_WORD_PIPELINE_CTES} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_WORD_THRESHOLD}",
)
def q_word_similar_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship pipeline on WORD-BIGRAM shingles at threshold 0.7 —
    identical MinHash/banding/prefilter/verify plan, different shingle
    unit (similarity.similar_pairs_from_shingles).  Note the banding
    s-curve (r=16) is tuned for the char-3 background; at word
    granularity it is recall-conservative — candidates remain bit-exact
    across engines regardless, which is what the oracle checks."""
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        similar_pairs_from_shingles,
    )

    toks = F.split(F.col("text"), " ")
    docs = load_table(spark, sf, "documents").where(F.size(toks) >= 2)
    # No persist: similar_pairs_from_shingles consumes the shingle
    # relation exactly ONCE (signature_set_relation computes signatures
    # and verify-sets in a single aggregate), so caching it was pure
    # write-side overhead — and a cache leak, since nothing unpersisted
    # it (r14 optimization; the flagship docstring makes the same
    # single-consumption argument).
    wsh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_text.word_ngrams(F.col("text"), 2))).alias(
            "shingle"
        ),
    )
    return similar_pairs_from_shingles(wsh, _CFG, threshold=_WORD_THRESHOLD)


# Cross-corpus candidates: the NEW side's band table joined against the
# SEEN side's — no new-vs-new or seen-vs-seen pairs.  The split (odd ids
# = new crawl, even ids = existing corpus) is deterministic and
# engine-portable.
_CROSS_CAND_CTE = """
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id_a, s.doc_id AS doc_id_b
  FROM bandh n JOIN bandh s
    ON n.band = s.band AND n.band_h = s.band_h
  WHERE n.doc_id % 2 = 1 AND s.doc_id % 2 = 0 AND n.doc_id != s.doc_id
)"""

_CROSS_PIPELINE_CTES = ",".join(
    [_SH_CTE, _VOCAB_CTE, _SIG_CTE, _BANDS_CTE,
     f"bandh AS (SELECT doc_id, band, ({_md5_parse_sql('band_key')}) AS band_h FROM bands)",
     _CROSS_CAND_CTE, _AGREE_CTE, _JACCARD_CTE]
)


@register(
    "cross_corpus_near_dups",
    f"WITH {_CROSS_PIPELINE_CTES} "
    f"""SELECT doc_id_a AS new_id, doc_id_b AS seen_id, jaccard
FROM jac WHERE jaccard >= {_CFG.threshold}""",
)
def q_cross_corpus_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup a new crawl against the existing corpus: odd-id documents
    (new) near-dup-matched against even-id documents (seen), with no
    new-vs-new or seen-vs-seen work — the asymmetric band join a
    production pipeline runs on every ingest."""
    docs = load_table(spark, sf, "documents")
    return cross_corpus_pairs(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        _CFG,
    )


@register(
    "similar_pairs_symmetric",
    f"""WITH {_PIPELINE_CTES},
undirected AS (SELECT doc_id_a, doc_id_b FROM jac WHERE jaccard >= {_CFG.threshold})
SELECT doc_id_a, doc_id_b FROM undirected
UNION
SELECT doc_id_b AS doc_id_a, doc_id_a AS doc_id_b FROM undirected""",
)
def q_similar_pairs_symmetric(spark: SparkSession, sf: str) -> DataFrame:
    """P6/A4: both directions, distinct — reference job 3's output contract
    (CollectCandidates.java:32-51)."""
    return symmetric_pairs(similar_pairs(load_table(spark, sf, "documents"), _CFG))


@register(
    "mllib_similar_pairs",
    f"""WITH sh AS (
  SELECT DISTINCT doc_id, rpad(substr(text, CAST(i AS INTEGER), {_K}), {_K}, ' ') AS shingle
  FROM (
    SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
    FROM documents WHERE length(text) > 0 AND doc_id < 250
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_id_a, sb.doc_id AS doc_id_b, count(*) AS n_common
  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
)
SELECT doc_id_a, doc_id_b
FROM inter
JOIN sizes na ON na.doc_id = doc_id_a
JOIN sizes nb ON nb.doc_id = doc_id_b
WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.8""",
)
def q_mllib_similar_pairs(spark, sf):
    """MLlib CountVectorizer + MinHashLSH approxSimilarityJoin flagship.

    The oracle is the GROUND-TRUTH pair set: brute-force exact Jaccard
    >= 0.8 over the same docs in SQL.  MLlib's 32 single-hash tables
    give per-pair miss probability (1-j)^32 <= 4e-23 at the threshold,
    so its verified output must equal the true set — the driver check
    is a real recall gate on the MLlib path, not rows-only.  (Jaccard
    VALUES are float-rounded differently by MLlib (1-(1-x)); the id
    pairs are exact ints, so the query emits just the pair set —
    value parity is covered by `similar_pairs`.)

    Runs on a deterministic prefix sample (doc_id < 250): MLlib's LSH
    uses one hash per band (r=1), so on this corpus's j~0.6 background
    nearly EVERY pair co-buckets and gets exact-distance checked —
    approxSimilarityJoin degenerates to brute force here (50s on the
    full sf0.01 corpus).  The explicit pipeline's r=16 banding is the
    scalable path; this entry exists to cover the MLlib surface."""
    from mapreduce_minhash_lsh_spark.operators.mllib import mllib_similar_pairs

    docs = load_table(spark, sf, "documents").where(F.col("doc_id") < 250)
    return mllib_similar_pairs(
        docs, MinHashLSHConfig(num_hashes=32, num_bands=4)
    ).select("doc_id_a", "doc_id_b")


@register(
    "similar_topk",
    f"""WITH RECURSIVE {_PIPELINE_CTES},
sym AS (
  SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}
  UNION ALL
  SELECT doc_id_b, doc_id_a, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}
)
SELECT doc_id_a AS doc_id, doc_id_b AS neighbor_id, jaccard, rank FROM (
  SELECT doc_id_a, doc_id_b, jaccard,
         CAST(row_number() OVER (PARTITION BY doc_id_a
                                 ORDER BY jaccard DESC, doc_id_b) AS INTEGER) AS rank
  FROM sym)
WHERE rank <= 3""",
)
def q_similar_topk(spark, sf):
    """Top-3 most-similar documents per doc (north-star text similarity
    search): verified LSH pairs, both directions, windowed top-k."""
    from pyspark.sql import Window

    pairs = similar_pairs(load_table(spark, sf, "documents"), _CFG)
    sym = pairs.unionByName(
        pairs.select(
            F.col("doc_id_b").alias("doc_id_a"),
            F.col("doc_id_a").alias("doc_id_b"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id_a").orderBy(F.desc("jaccard"), F.asc("doc_id_b"))
    return (
        sym.select(
            F.col("doc_id_a").alias("doc_id"),
            F.col("doc_id_b").alias("neighbor_id"),
            "jaccard",
            F.row_number().over(w).alias("rank"),
        ).where(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------------
# LSH recall probe — recall measured as exact integers, oracle-checked
# --------------------------------------------------------------------------

_RECALL_SAMPLE = 500_000  # keep half the docs (bucket < 500000 of 1e6)
_RECALL_CTES = (
    f"sdocs AS (SELECT * FROM documents WHERE ({_BUCKET_SQL}) < {_RECALL_SAMPLE})"
    + ","
    + _PIPELINE_CTES.replace("FROM documents", "FROM sdocs")
)


@register(
    "lsh_recall_probe",
    f"""WITH {_RECALL_CTES},
inter_all AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_id_a, i.doc_id_b
  FROM inter_all i
  JOIN sizes sa ON sa.doc_id = i.doc_id_a
  JOIN sizes sb ON sb.doc_id = i.doc_id_b
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= {_CFG.threshold}
),
found AS (SELECT doc_id_a, doc_id_b FROM jac WHERE jaccard >= {_CFG.threshold})
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found""",
)
def q_lsh_recall_probe(spark, sf):
    """Recall of the full LSH pipeline against brute-force ground truth
    on a deterministic half-sample: (n_true, n_found) as exact ints —
    the acceptance metric any dedup deployment must watch.  Ground truth
    = every pair at exact Jaccard >= threshold (shingle co-occurrence
    join); found = the flagship's verified output on the same sample.
    found <= true always (verification is exact), so n_found/n_true IS
    the recall of the banding stage."""
    from mapreduce_minhash_lsh_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_minhash_lsh_spark.operators.sampling import hash_sample

    docs = hash_sample(load_table(spark, sf, "documents"), "doc_id", _RECALL_SAMPLE)
    truth = ngram_jaccard_pairs(docs, k=_CFG.k, threshold=_CFG.threshold)
    found = similar_pairs(docs, _CFG)
    return truth.agg(F.count("*").cast("long").alias("n_true")).crossJoin(
        found.agg(F.count("*").cast("long").alias("n_found"))
    )


@register(
    "containment_pairs",
    f"""WITH {_PIPELINE_CTES}
SELECT i.doc_id_a, i.doc_id_b,
       CAST(i.n_common AS DOUBLE) / least(na.n, nb.n) AS containment
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_id_a
JOIN sizes nb ON nb.doc_id = i.doc_id_b
WHERE CAST(i.n_common AS DOUBLE) / least(na.n, nb.n) >= 0.9""",
)
def q_containment_pairs(spark, sf):
    """Max-containment (nc / min set size) >= 0.9 among the flagship's
    LSH candidates — the asymmetric quote/subset measure Jaccard
    under-scores for size-skewed pairs (operators/similarity.py:
    containment_pairs, incl. the recall contract: candidates are still
    banding-generated, tuned for Jaccard — exhaustive containment needs
    a different candidate generator).  Oracle reuses the flagship CTE
    chain with the containment formula over the same candidate set."""
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        containment_pairs,
    )

    return containment_pairs(load_table(spark, sf, "documents"), _CFG, 0.9)


@register(
    "containment_pairs_postings",
    f"""WITH {_SH_CTE},
sid AS (SELECT doc_id, ({_md5_parse_sql("shingle")}) AS sid FROM sh),
dfreq AS (SELECT sid, count(*) AS df FROM sid GROUP BY sid),
rare AS (
  SELECT s.doc_id, s.sid FROM sid s JOIN dfreq d USING (sid)
  WHERE d.df BETWEEN 2 AND 64
),
pcand AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM rare a JOIN rare b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, count(*) AS nc
  FROM pcand c
  JOIN sh sa ON sa.doc_id = c.doc_id_a
  JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_id_a, c.doc_id_b
)
SELECT i.doc_id_a, i.doc_id_b,
       CAST(i.nc AS DOUBLE) / least(na.n, nb.n) AS containment
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_id_a
JOIN sizes nb ON nb.doc_id = i.doc_id_b
WHERE CAST(i.nc AS DOUBLE) / least(na.n, nb.n) >= 0.9""",
)
def q_containment_pairs_postings(spark, sf):
    """EXHAUSTIVE high-containment pairs via rare-shingle postings
    intersection (similarity.py:containment_pairs_postings) — closes the
    recall hole `containment_pairs` documents: a short text quoted
    inside a long one (containment ~1, Jaccard ~0) never bands with it,
    but DOES share its corpus-rare shingles.  Candidates = pairs sharing
    >= 2 shingles of document frequency in [2, 64]; work is bounded by
    max_df * |rare postings| (linear for fixed cap), never all-pairs;
    verification is exact containment on the full sets.  The oracle
    replays the identical df window, md5 postings buckets, and
    containment formula."""
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        containment_pairs_postings,
    )

    return containment_pairs_postings(
        load_table(spark, sf, "documents"), k=_CFG.k, threshold=0.9,
        max_df=64, min_common=2,
    )


# --------------------------------------------------------------------------
# One-permutation hashing (round 4): ~num_hashes-fold cheaper signatures
# --------------------------------------------------------------------------

_N_H = _CFG.num_hashes

# OPH signature CTE: one md5-derived hash per shingle, bucketed mod n,
# min per bucket, OPTIMAL densification (operators/minhash.py
# oph_signatures_array; Shrivastava ICML 2017 style): each empty slot
# walks its slot-specific universal-hash probe sequence — the same
# DENS_A/DENS_B/DENS_T literals — to the first non-empty bucket and
# copies its min (rank 0 = the slot itself); slots whose DENS_T probes
# all miss fall back to the circular walk, arg_min by clockwise
# distance.  Emits the same sig(doc_id, h, minhash) shape as _SIG_CTE,
# so the whole downstream band/candidate/agree/jaccard chain is reused
# verbatim.
from mapreduce_minhash_lsh_spark.operators.minhash import (  # noqa: E402
    DENS_A as _DENS_A,
    DENS_B as _DENS_B,
    DENS_T as _DENS_T,
)

_OPH_SIG_CTE = f"""
{_IDS_CTE},
ob AS (
  SELECT doc_id, shingle_id % {_N_H} AS bucket, min(shingle_id) AS bmin
  FROM ids GROUP BY 1, 2
),
donors AS (
  SELECT slot, 0 AS r, slot AS donor
  FROM (SELECT unnest(range(0, {_N_H})) AS slot)
  UNION ALL
  SELECT slot, r,
         (({_DENS_A} * (slot * {_DENS_T + 1} + r) + {_DENS_B}) % {_P}) % {_N_H} AS donor
  FROM (SELECT unnest(range(0, {_N_H})) AS slot),
       (SELECT unnest(range(1, {_DENS_T + 1})) AS r)
),
ohits AS (
  SELECT b.doc_id, d.slot, arg_min(b.bmin, d.r) AS mh
  FROM ob b JOIN donors d ON d.donor = b.bucket
  GROUP BY 1, 2
),
oslots AS (
  SELECT d.doc_id, s.slot
  FROM (SELECT DISTINCT doc_id FROM ob) d,
       (SELECT unnest(range(0, {_N_H})) AS slot) s
),
omiss AS (
  SELECT s.doc_id, s.slot FROM oslots s
  WHERE NOT EXISTS (SELECT 1 FROM ohits h
                    WHERE h.doc_id = s.doc_id AND h.slot = s.slot)
),
otail AS (
  SELECT m.doc_id, m.slot,
         arg_min(b.bmin, (b.bucket - m.slot + {_N_H}) % {_N_H}) AS mh
  FROM omiss m JOIN ob b ON b.doc_id = m.doc_id
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id, slot AS h, mh AS minhash FROM ohits
  UNION ALL
  SELECT doc_id, slot AS h, mh AS minhash FROM otail
)"""

_OPH_CFG = MinHashLSHConfig(
    num_hashes=128, num_bands=8, threshold=0.8, id_strategy="md5",
    sig_strategy="oph",
)


@register(
    "oph_signatures",
    f"WITH {_SH_CTE}, {_OPH_SIG_CTE} "
    "SELECT doc_id, CAST(h AS INTEGER) AS h, minhash FROM sig",
)
def q_oph_signatures(spark, sf):
    """One-permutation-hashing signatures (operators/minhash.py:
    oph_signatures_array): ONE hash per shingle instead of 128 affine
    evaluations — the signature stage's 100 TB cost drops ~128x; empty
    buckets are filled by OPTIMAL densification (slot-keyed probe
    sequences, round 5 — rotation correlated adjacent slots and
    inflated candidates ~10x on short docs).  The oracle replays
    bucketing, per-bucket mins, the probe table and the circular-walk
    fallback exactly (integer arithmetic throughout)."""
    from mapreduce_minhash_lsh_spark.operators.minhash import (
        oph_signatures_array,
    )

    sh = explode_shingles(load_table(spark, sf, "documents"), _OPH_CFG.k)
    arr = oph_signatures_array(sh, _OPH_CFG)
    return arr.select(
        "doc_id", F.posexplode("sig").alias("h", "minhash")
    ).select("doc_id", F.col("h").cast("int").alias("h"), "minhash")


@register(
    "oph_similar_pairs",
    f"WITH {_SH_CTE}, {_OPH_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE}, {_AGREE_CTE}, {_JACCARD_CTE} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}",
)
def q_oph_similar_pairs(spark, sf):
    """The FULL flagship chain on OPH signatures (sig_strategy='oph'):
    banding, candidates, agreement prefilter, and exact verification are
    the identical code paths — only the signature aggregate changes, and
    the oracle swaps one CTE.  Exact verification makes precision 1
    regardless of the signature scheme; candidate recall under OPH is
    probed at scale in experiments/oph_probe.py."""
    return similar_pairs(load_table(spark, sf, "documents"), _OPH_CFG)


# --------------------------------------------------------------------------
# Weighted (tf-aware) near-dup (round 4): capped-multiplicity expansion
# --------------------------------------------------------------------------

_W_CAP = 4

# Weighted shingle relation: each (doc, 3-gram) occurrence up to cap=4
# becomes a distinct 'shingle#i' element — weighted Jaccard on capped tf
# equals plain set Jaccard on this relation, so every downstream CTE is
# the flagship chain verbatim.
_WEIGHTED_SH_CTE = f"""
wsh0 AS (
  SELECT doc_id, rpad(substr(text, CAST(i AS INTEGER), {_K}), {_K}, ' ') AS shingle
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        FROM documents WHERE length(text) > 0)
),
wtf AS (
  SELECT doc_id, shingle, least(count(*), {_W_CAP}) AS tf
  FROM wsh0 GROUP BY doc_id, shingle
),
sh AS (
  SELECT doc_id, shingle || '#' || CAST(i AS VARCHAR) AS shingle
  FROM (SELECT doc_id, shingle, unnest(range(1, tf + 1)) AS i FROM wtf)
)"""

_WEIGHTED_PIPELINE_CTES = ",".join(
    [_WEIGHTED_SH_CTE, _VOCAB_CTE, _SIG_CTE, _BANDS_CTE, _CAND_CTE,
     _AGREE_CTE, _JACCARD_CTE]
)


@register(
    "weighted_similar_pairs",
    f"WITH {_WEIGHTED_PIPELINE_CTES} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}",
)
def q_weighted_similar_pairs(spark, sf):
    """WEIGHTED near-dup pairs: jaccard here is the tf-weighted Jaccard
    sum(min tf)/sum(max tf) with tf capped at 4 — repetition-aware
    similarity (a doc that repeats a phrase 4x vs one that has it once
    scores lower than set Jaccard pretends).  Implemented as the
    UNCHANGED flagship pipeline over expand_weighted_shingles
    (operators/shingling.py): capped-weight Jaccard is exactly set
    Jaccard on the '#i'-expanded relation, a textbook reduction that
    reuses banding, candidates, prefilter, and exact verify as-is."""
    from mapreduce_minhash_lsh_spark.operators.shingling import (
        expand_weighted_shingles,
    )
    from mapreduce_minhash_lsh_spark.operators.similarity import (
        similar_pairs_from_shingles,
    )

    docs = load_table(spark, sf, "documents")
    return similar_pairs_from_shingles(
        expand_weighted_shingles(docs, k=_CFG.k, cap=_W_CAP), _CFG
    )


# --------------------------------------------------------------------------
# Paragraph-level dedup (round 4): chunk granularity + flagship composition
# --------------------------------------------------------------------------

_CHUNK_LEN = 200
_CHUNK_MUL = 100_000  # chunk_id = doc_id * mul + idx; idx < len/200 << mul

# Non-overlapping 200-char chunks as pseudo-documents, then the flagship
# CTE chain verbatim over the chunk relation; the final select folds
# chunk pairs back to ordered doc pairs.
_PARA_SH_CTE = f"""
chunks AS (
  SELECT doc_id * {_CHUNK_MUL} + ci AS doc_id,
         substr(text, CAST(ci * {_CHUNK_LEN} + 1 AS INTEGER), {_CHUNK_LEN}) AS text
  FROM (SELECT doc_id, text,
               unnest(range(0, CAST(ceil(length(text) / {_CHUNK_LEN}.0) AS BIGINT))) AS ci
        FROM documents WHERE length(text) > 0)
),
sh AS (
  SELECT DISTINCT doc_id, rpad(substr(text, CAST(i AS INTEGER), {_K}), {_K}, ' ') AS shingle
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        FROM chunks WHERE length(text) > 0)
)"""

_PARA_PIPELINE_CTES = ",".join(
    [_PARA_SH_CTE, _VOCAB_CTE, _SIG_CTE, _BANDS_CTE, _CAND_CTE,
     _AGREE_CTE, _JACCARD_CTE]
)


@register(
    "paragraph_near_dups",
    f"""WITH {_PARA_PIPELINE_CTES}
SELECT least(doc_id_a // {_CHUNK_MUL}, doc_id_b // {_CHUNK_MUL}) AS doc_a,
       greatest(doc_id_a // {_CHUNK_MUL}, doc_id_b // {_CHUNK_MUL}) AS doc_b,
       CAST(count(*) AS BIGINT) AS n_chunk_pairs,
       max(jaccard) AS max_chunk_jaccard
FROM jac
WHERE jaccard >= {_CFG.threshold}
  AND doc_id_a // {_CHUNK_MUL} <> doc_id_b // {_CHUNK_MUL}
GROUP BY 1, 2""",
)
def q_paragraph_near_dups(spark, sf):
    """PARAGRAPH-granular dedup: documents are split into 200-char
    non-overlapping chunks, the UNCHANGED flagship pipeline runs on the
    chunk relation (chunk_id = doc_id*100000 + idx), and chunk pairs
    fold back to ordered doc pairs with the shared-chunk count — finds
    documents that share near-identical paragraphs even when the whole
    documents are dissimilar (partial-plagiarism / template-section
    detection, the granular sibling of containment_pairs_postings).
    Composition only: no new operator code, same scale contract as the
    flagship at chunk granularity."""
    docs = load_table(spark, sf, "documents").where(F.length("text") > 0)
    chunks = (
        docs.select(
            "doc_id", "text",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.length("text") / F.lit(float(_CHUNK_LEN)))
                    .cast("long") - 1,
                )
            ).alias("ci"),
        )
        .select(
            (F.col("doc_id") * _CHUNK_MUL + F.col("ci")).alias("doc_id"),
            F.expr(
                f"substr(text, CAST(ci * {_CHUNK_LEN} + 1 AS INT), {_CHUNK_LEN})"
            ).alias("text"),
        )
    )
    pairs = similar_pairs(chunks, _CFG)
    # integer floor-div, matching the oracle's `//` (double division
    # rounds and goes inexact past 2^53)
    da = F.expr(f"doc_id_a div {_CHUNK_MUL}")
    db = F.expr(f"doc_id_b div {_CHUNK_MUL}")
    return (
        pairs.where(da != db)
        .groupBy(
            F.least(da, db).alias("doc_a"),
            F.greatest(da, db).alias("doc_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_chunk_pairs"),
            F.max("jaccard").alias("max_chunk_jaccard"),
        )
    )


@register(
    "incremental_similar_pairs",
    f"WITH {_PIPELINE_CTES} "
    f"SELECT doc_id_a, doc_id_b, jaccard FROM jac WHERE jaccard >= {_CFG.threshold}",
)
def q_incremental_similar_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB continuous-ingest story (VERDICT r6 #6): the corpus
    arrives as micro-batches (4 here, maxFilesPerTrigger=1), each batch
    is minhashed with the SAME batch operators and joined against the
    accumulated band/shingle store, and each pair is emitted exactly
    once at the later of its two docs' batches.  BATCH EQUIVALENCE is
    the contract — incremental over N micro-batches == the one-shot
    flagship — so the oracle is the flagship pipeline SQL verbatim
    (streaming/jobs.py:incremental_similar_pairs; equivalence also
    pinned against the batch operator by
    tests/test_streaming.py::test_incremental_similar_pairs_equals_batch)."""
    from mapreduce_minhash_lsh_spark.streaming.jobs import (
        incremental_similar_pairs,
    )

    return incremental_similar_pairs(spark, sf, _CFG)
