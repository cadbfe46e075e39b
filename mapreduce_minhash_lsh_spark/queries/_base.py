"""Registry machinery + the shared flagship-pipeline oracle fragments.

Split out of the monolithic registry.py in round 7 (VERDICT r6 #7): the
register()/_QUERIES/_ORACLES plumbing, PIPELINE_CFG, the 50-row driver
priority window, and every DuckDB CTE fragment the family modules share
(shingles, vocabulary, signatures, bands, candidates, agreement,
jaccard).  Family modules import from here; external code goes through
mapreduce_minhash_lsh_spark.registry, whose surface is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.lsh import (
    band_keys,
    banded_pairs,
)
from mapreduce_minhash_lsh_spark.operators.minhash import (
    minhash_signatures_array,
    signatures_long,
)
from mapreduce_minhash_lsh_spark.operators.shingling import (
    explode_shingles,
    shingle_postings,
    vocabulary,
)
from mapreduce_minhash_lsh_spark.operators.similarity import (
    cross_corpus_pairs,
    similar_pairs,
    symmetric_pairs,
)
from mapreduce_minhash_lsh_spark.sources.tables import load_table

# Oracle-checked pipeline config: 128 hashes in 8 bands of 16 rows.  The
# documents corpus has a j~0.6 char-3-gram background (word-soup from a
# small vocabulary), so the s-curve must be steep ABOVE 0.6: r=16 catches
# j=0.6 pairs w.p. 8*0.6^16 ~= 0.2% (bounded candidate set) while j>=0.9
# planted near-dups are caught w.p. 1-(1-0.9^16)^8 ~= 0.81 and j>=0.95
# w.p. 0.99 — then exact verification makes precision 1.  'md5' strategy:
# ids come from a pure map-side engine-portable hash, so the flagship
# needs no vocabulary pass at all AND the DuckDB twin is still exact.
PIPELINE_CFG = MinHashLSHConfig(
    num_hashes=128, num_bands=8, threshold=0.8, id_strategy="md5"
)

QueryFn = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


# The correctness driver samples the FIRST 50 entries of queries() in
# iteration order.  Registration order in this file is pipeline-logical, so
# without an explicit priority the checked window is an accident of file
# layout (round 2 left 21 queries — including the as-of join, range join and
# train/valid/test split — without a driver row).  _PRIORITY pins the window
# to the 50 most valuable queries: the flagship MinHash/LSH chain, one
# representative per SURVEY-§2 component, and the core LLM-pipeline
# operators (dedup families, ANN, sampling/split/redaction, streaming).
# Everything past row 50 — redundant variants AND later additions like
# stratified_sample / repetition_scores / benchmark_contamination /
# embeddings_profile / the extra TPC-H shapes — is covered only by the
# in-repo parity sweep, not the driver board.  Never rename or drop an
# entry: aliases only.
#
# ROTATION SCHEDULE (VERDICT r8 #1: drain the never-driver-checked
# backlog at ~10 swaps/round; every retiree is already driver-green in a
# prior round, stays registered, and stays sweep-green):
#   r9 (done below): +multimodal_{png,jpeg,gif,tiff}, +containment_pairs,
#      +q9_profit_by_nation_year, +q21_sole_blame_suppliers,
#      +near_dup_drop_best_quality, +document_chunks,
#      +events_retention_cohorts; backlog 52 -> 42 carried + 3 new r9
#      registrations (repeated_spans, strip_repeated_spans,
#      streaming_ivf_index) = 45.
#   r10 (done below): the never-checked TPC-H block (q4, q7, q8, q12,
#      q13, q14, q15, q17, q19, q22), retiring r9-green TPC-H + window
#      redundants (q1, q3, q5, q9, q21, orders_above_customer_avg,
#      window_top_orders_per_customer, rollup_quantity,
#      events_retention_cohorts); PLUS the three new r9 operators pulled
#      forward from the tail (repeated_spans, strip_repeated_spans,
#      streaming_ivf_index — new operators earn a driver row within a
#      round of landing, VERDICT r9 #1), retiring containment_pairs,
#      near_dup_drop_best_quality, document_chunks, multimodal_gif (all
#      r9-green; each family keeps a window representative).
#      backlog 45 -> 32.
#   r11 (done below): ALL 21 new r10 registrations promoted at once
#      (gopher_quality_flags, c4_line_filter, bm25_topk, multimodal_webp,
#      multimodal_audio, multimodal_flac, multimodal_video_meta,
#      ann_pq_topk, cluster_balanced_sample, bpe_token_counts,
#      ngram_lm_scores, stupid_backoff_scores, ann_ivfpq_topk,
#      winnow_fingerprints, winnow_match_pairs, multimodal_aiff_au,
#      ngram_lm_ref_scores, streaming_lm_scores, q11_important_parts,
#      q16_supplier_part_counts, q20_excess_suppliers).  VERDICT r10 #2
#      said: when 10 swaps can't cover the 21-new + events block,
#      prioritize the new-operator families (LM, PQ/IVF-PQ, winnow,
#      quality, codecs) over the events block — so the planned
#      analytics/events block slides to r12 and this round runs 21
#      swaps.  The 21 retirees are all driver-green in r10 (several in
#      earlier rounds too), stay registered, stay sweep-green, and every
#      family keeps a window representative: TPC-H keeps q7/q15/q22
#      (+ the three new q11/q16/q20) while q4/q8/q12/q13/q14/q17/q19
#      retire; the flagship chain keeps shingling/lsh_bands/
#      candidate_pairs/similar_pairs while shingle_postings/vocabulary
#      retire (both transitively evidenced by the chain); the similarity
#      variants keep oph/skew/containment_postings while weighted/
#      paragraph/word retire; text keeps text_stats/lang_id (+ simhash
#      for fingerprints) while doc_fingerprint retires; spans keep
#      repeated_spans while strip_repeated_spans retires; dedup keeps
#      dedup_by_lang_source + similar_groups (CC) while near_dup_groups/
#      cross_corpus_near_dups retire; sampling keeps
#      documents_hash_sample while train_valid_test_split retires;
#      image codecs keep png (+ the five new real-codec rows) while
#      jpeg/tiff retire; streaming keeps view_clicks/incremental/ivf
#      (+ new streaming_lm_scores) while streaming_events_hourly
#      retires; ANN keeps ann_topk exact (+ new pq/ivfpq) while
#      embedding_near_dup retires.  backlog 53 -> 32.
#   r12 (done below): analytics/events block (events_session_window,
#      events_sliding_windows, events_trailing_hour_stats,
#      events_debounce, concurrent_sessions, user_lifetime_profile,
#      user_first_last_event, events_hourly_anomalies,
#      customer_rfm_segments, customer_balance_ranks) PLUS the five new
#      r11 registrations (dsir_logweights, dsir_ref_logweights,
#      semdedup_drop_ids, bloom_contamination,
#      streaming_bloom_contamination — new operators earn a driver row
#      within a round); 15 swaps, backlog -> 22.  The 15 retirees are
#      all r11-driver-green, stay registered, stay sweep-green, and
#      every family keeps a window representative: TPC-H keeps
#      q7/q15/q22 while q11/q16/q20 retire; LM keeps ngram_lm_scores +
#      stupid_backoff_scores while ngram_lm_ref_scores retires; winnow
#      keeps winnow_fingerprints while winnow_match_pairs retires;
#      quality keeps gopher_quality_flags + bm25_topk while
#      c4_line_filter retires; multimodal keeps features (plumbing) +
#      png (image codec) + audio (audio codec) while resize/webp/flac/
#      aiff_au/video_meta retire; ANN keeps ann_topk (exact) +
#      ann_ivfpq_topk (quantized scale path) while ann_pq_topk retires;
#      similarity variants keep skew + containment while
#      oph_similar_pairs retires (OPH stays registered + sweep-green);
#      streaming keeps view_clicks + incremental_similar_pairs + the
#      new Bloom ingest while streaming_lm_scores/streaming_ivf_index
#      retire.
#   r13 (done below): sampling/scoring block (stratified_sample,
#      quality_weighted_sample, lang_rebalanced_sample,
#      repetition_scores, benchmark_contamination, distinctive_terms,
#      token_length_histogram, embeddings_profile,
#      quantity_quantiles_approx, vocab_coverage) PLUS all 9 new r12
#      registrations (dsir_selected_sample, training_shard_manifest,
#      cms_heavy_grams, streaming_dsir_logweights, hybrid_dedup_drop_ids,
#      cms_topk_grams, lang_vocab_sketch, stateful_closed_sessions,
#      streaming_lang_vocab_sketch — new-operator rule); 19 swaps,
#      backlog 31 -> 12.  The 19 retirees are all r12-driver-green,
#      stay registered, stay sweep-green, and every family keeps a
#      window representative: the events/analytics block retires 10
#      (events_session_window, events_sliding_windows,
#      events_trailing_hour_stats, events_debounce, concurrent_sessions,
#      user_lifetime_profile, user_first_last_event,
#      events_hourly_anomalies, customer_rfm_segments,
#      customer_balance_ranks) while events_sessionize keeps the batch
#      sessionization row and stateful_closed_sessions joins as the
#      stateful-streaming sessionization row; DSIR retires the two
#      weight-only forms (dsir_logweights, dsir_ref_logweights) while
#      the closed selection loop (dsir_selected_sample) and the
#      streaming count-log (streaming_dsir_logweights) keep the family;
#      embedding dedup retires semdedup_drop_ids while
#      hybrid_dedup_drop_ids (which composes the identical SemDeDup
#      chain) keeps it; Bloom retires the batch form
#      (bloom_contamination) while streaming_bloom_contamination keeps
#      it; text keeps text_stats while lang_id retires (the language
#      dimension stays driver-checked via lang_rebalanced_sample +
#      lang_vocab_sketch); fingerprints keep winnow_fingerprints while
#      simhash retires; LM keeps ngram_lm_scores + bpe_token_counts
#      while stupid_backoff_scores retires; sampling retires
#      documents_hash_sample + cluster_balanced_sample as three fresh
#      sampler rows (stratified, quality-weighted, lang-rebalanced)
#      promote.
#   r14 (done below): the tail (candidate_pairs_split,
#      word_bigram_jaccard_sample, packed_sequences_greedy,
#      purchases_with_next_view, quantity_price_correlation,
#      edit_distance_pairs, quantity_grouping_sets,
#      cheapest_supplier_per_part, partkeys_both_years, oph_signatures,
#      embedding_dedup_drop_ids, near_dup_group_sizes); backlog -> 0 —
#      every registered query has now held a driver CORRECTNESS row.
#      12 swaps; retirees (all multi-round-green, every family keeps a
#      window representative): the TPC-H trio thins to q7 (q15/q22
#      retire; four fresh relational shapes — grouping sets, set-ops,
#      correlation agg, per-group argmin join — promote in their
#      place); the flagship chain thins to shingling + similar_pairs
#      (lsh_bands/candidate_pairs retire; candidate_pairs_split keeps a
#      dedicated candidate-stage row); redact_pii /
#      purchases_with_last_view / parts_price_bands /
#      multimodal_features rotate out (as-of keeps
#      purchases_with_next_view, multimodal keeps png + audio);
#      packed_sequences retires with packed_sequences_greedy keeping
#      the packing family; similar_groups retires with
#      near_dup_group_sizes keeping the connected-components family;
#      ann_topk retires with ann_ivfpq_topk keeping ANN and
#      embedding_dedup_drop_ids adding embedding-dedup coverage;
#      text_stats retires with repeated_spans + edit_distance_pairs +
#      word_bigram_jaccard_sample keeping the text-feature dimension.
#   r15 (pre-committed): promote the r14 registrations
#      (source_capped_docs, token_budget_selection, bpe_learned_merges,
#      bpe_trained_token_counts, and any further r14 additions — the
#      new-operator rule: a new operator earns its driver row the
#      round after it lands); retirees per the family-representative
#      rule at r15.
_PRIORITY: list[str] = [
    # Flagship MinHash+LSH chain (SURVEY §2 S/P/A/J/F components)
    # (round 14 rotation: the chain thins to its endpoints — lsh_bands
    # and candidate_pairs retire multi-round-green (both stay registered
    # and sweep-green); the banding/candidate stages stay
    # driver-evidenced via shingling + similar_pairs transitively and
    # via candidate_pairs_split / skew_similar_pairs directly, and
    # oph_signatures below adds the one-permutation signature row.)
    # (round 8 rotation, VERDICT r7 #3: minhash_signatures moved past the
    # window — the signature stage stays driver-evidenced transitively via
    # shingling + similar_pairs, and the query itself stays
    # registered and sweep-green.)
    "shingling",
    "similar_pairs",
    # One-permutation hashing signatures (round 14 tail promotion: the
    # OPH + optimal-densification scheme earns its own driver row)
    "oph_signatures",
    # Relational / TPC-H — round-14 rotation: the trio thins to q7 (the
    # densest multi-join shape); q15/q22 retire multi-round-green and
    # four fresh relational shapes promote from the tail: GROUPING SETS
    # rollup, INTERSECT set-op, corr() aggregate, per-group argmin join.
    "q7_nation_trade_volume",
    "quantity_grouping_sets",
    "partkeys_both_years",
    "quantity_price_correlation",
    "cheapest_supplier_per_part",
    # Window / analytic — round-13 rotation: the 10-row events/analytics
    # block retires r12-green; batch sessionization keeps the family's
    # driver row and the new stateful-streaming sessionizer joins it.
    "events_sessionize",
    # Custom stateful sessionization (round 13 promotion: new r12
    # operator earns its driver row — applyInPandasWithState per-user
    # open-session state, batch-equivalence oracle minus the final open
    # session)
    "stateful_closed_sessions",
    # Events / streaming (round 12: streaming_lm_scores and
    # streaming_ivf_index retired r11-green — the streaming family
    # keeps the interval join, the incremental band-store ingest, and
    # the Bloom-ingest row below)
    "streaming_view_clicks",
    # Incremental near-dup ingest (round 8 promotion, VERDICT r7 #3: the
    # 100 TB continuous-ingest story — micro-batched minhash against an
    # accumulated band store, batch-equivalence oracle)
    "incremental_similar_pairs",
    # Streaming Bloom decontamination ingest (round 12 promotion: new
    # r11 operator earns its driver row — per-batch OR into a
    # batch_id-partitioned bit log, idempotent under replay)
    "streaming_bloom_contamination",
    # Streaming sketch ingests (round 13 promotion: new r12 operators —
    # the DSIR count-delta log and the linear-counting bit log, both
    # idempotent under replay, both oracle = batch SQL verbatim)
    "streaming_dsir_logweights",
    "streaming_lang_vocab_sketch",
    # Group-level flagship (round 14 rotation: similar_groups retires
    # multi-round-green since r5; near_dup_group_sizes — the same
    # Borůvka verified-components chain aggregated to group sizes —
    # keeps the connected-components family's driver row)
    "near_dup_group_sizes",
    # Text analysis (round 14: text_stats retires multi-round-green —
    # the text-feature dimension stays driver-checked via
    # repeated_spans plus the two tail promotions below: token-level
    # bigram Jaccard on a bounded sample and bounded-candidate edit
    # distance)
    "word_bigram_jaccard_sample",
    "edit_distance_pairs",
    # Passage-level dedup (round 11: strip_repeated_spans retired
    # r10-green; repeated_spans keeps the span family's driver row)
    "repeated_spans",
    # Dedup family (round 11: near_dup_groups and cross_corpus_near_dups
    # retired r10-green — exact dedup keeps dedup_by_lang_source and the
    # connected-components family keeps similar_groups)
    "dedup_by_lang_source",
    # Sequence packing (round 14: packed_sequences retires multi-round-
    # green; the greedy first-fit variant keeps the packing family's
    # driver row.  ngram_jaccard_sample is a sample-bounded measurement
    # tool; it stays oracle-checked past the window.)
    "packed_sequences_greedy",
    # Capped+auto-split flagship on a boilerplate-clique corpus (round
    # 5: the skew-policy regression guard); round 14 adds the
    # split-policy candidate stage as its own row (triangle-blocked hot
    # buckets, bit-identical to the uncapped candidate set).
    "skew_similar_pairs",
    "candidate_pairs_split",
    "containment_pairs_postings",
    # ANN / embeddings (round 14: ann_topk retires multi-round-green —
    # ann_ivfpq_topk keeps ANN's driver row as the quantized scale
    # path, and embedding_dedup_drop_ids promotes from the tail to add
    # the embedding-dedup drop-list row)
    "ann_ivfpq_topk",
    "embedding_dedup_drop_ids",
    # Winnowing / MOSS fingerprints (round 12: winnow_match_pairs
    # retired r11-green; selection keeps the family's driver row)
    "winnow_fingerprints",
    # LM scoring + BPE (round 13: stupid_backoff_scores retired
    # r12-green — the family keeps the base LM + the BPE tokenizer)
    "ngram_lm_scores",
    "bpe_token_counts",
    # Quality filters / retrieval (round 12: c4_line_filter retired
    # r11-green — gopher keeps the quality row, bm25 the retrieval row)
    "gopher_quality_flags",
    "bm25_topk",
    # Data-selection operators (round 13 rotation: the weight-only DSIR
    # forms and the standalone SemDeDup/Bloom rows retired r12-green —
    # the closed selection loop keeps DSIR's driver row, the hybrid
    # composition keeps SemDeDup's, streaming_bloom_contamination keeps
    # Bloom's)
    "dsir_selected_sample",
    "hybrid_dedup_drop_ids",
    # Sampling / scoring block (round 13 promotion — VERDICT r12 #1:
    # stratified/quality-weighted/lang-rebalanced samplers, repetition
    # and contamination scoring, TF-IDF distinctive terms, token-length
    # histogram, embedding profile, approx quantiles, OOV coverage;
    # documents_hash_sample + cluster_balanced_sample retire r12-green)
    "stratified_sample",
    "quality_weighted_sample",
    "lang_rebalanced_sample",
    "repetition_scores",
    "benchmark_contamination",
    "distinctive_terms",
    "token_length_histogram",
    "embeddings_profile",
    "quantity_quantiles_approx",
    "vocab_coverage",
    # Deterministic sketches + shard sink (round 13 promotion: new r12
    # operators — Count-Min heavy hitters + sampled top-k, linear-
    # counting vocabulary cardinality, training-shard manifest recompute)
    "training_shard_manifest",
    "cms_heavy_grams",
    "cms_topk_grams",
    "lang_vocab_sketch",
    # As-of / range joins (round 14: purchases_with_last_view and
    # parts_price_bands retire multi-round-green; the forward-looking
    # as-of join keeps the family's driver row.  redact_pii also
    # retires — the regex/text-transform dimension stays sweep-green.)
    "purchases_with_next_view",
    # Multimodal real codecs (round 14: multimodal_features (plumbing)
    # retires multi-round-green — the family keeps png (image codec)
    # and audio (WAV/G.711/ADPCM), which exercise the same binary
    # dispatcher end-to-end)
    "multimodal_png",
    "multimodal_audio",
]


# queries()/oracle_sql() live in the registry facade (registry.py), which
# additionally freezes the pre-split registration order - import them from
# there, not here.


# --------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect), kept in lockstep with the
# operator implementations they mirror.
# --------------------------------------------------------------------------

_CFG = PIPELINE_CFG
_PARAMS = _CFG.hash_params()
_A = [a for a, _ in _PARAMS]
_B = [b for _, b in _PARAMS]
_P = _CFG.prime
_K = _CFG.k
_R = _CFG.rows_per_band

# (doc_id, shingle) distinct — mirror of operators.shingling.explode_shingles
_SH_CTE = f"""
sh AS (
  SELECT DISTINCT doc_id, rpad(substr(text, CAST(i AS INTEGER), {_K}), {_K}, ' ') AS shingle
  FROM (
    SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
    FROM documents WHERE length(text) > 0
  )
)"""

_VOCAB_CTE = """
vocab AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS shingle_id
  FROM (SELECT DISTINCT shingle FROM sh)
)"""

# 60-bit md5 hex parse with literal powers of 16 (DuckDB has no hex->int
# cast); bit-identical to Spark's conv(substr(md5(x),1,15),16,10).
def _md5_parse_sql(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substring(md5({expr}), {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )


# shingle_ids twin — strategy-dependent.
_MD5_PARSE = _md5_parse_sql("shingle")
if _CFG.id_strategy == "md5":
    _IDS_CTE = f"ids AS (SELECT doc_id, ({_MD5_PARSE}) % {_P} AS shingle_id FROM sh)"
else:
    _IDS_CTE = "ids AS (SELECT sh.doc_id, v.shingle_id FROM sh JOIN vocab v USING (shingle))"

_SIG_CTE = f"""
{_IDS_CTE},
params AS (SELECT unnest({_A}) AS a, unnest({_B}) AS b, unnest({list(range(_CFG.num_hashes))}) AS h),
sig AS (
  SELECT doc_id, h, min((CAST(a AS BIGINT) * shingle_id + b) % {_P}) AS minhash
  FROM ids CROSS JOIN params
  GROUP BY doc_id, h
)"""

_BANDS_CTE = f"""
bands AS (
  SELECT doc_id, CAST(h // {_R} AS INTEGER) AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h) AS band_key
  FROM sig GROUP BY doc_id, h // {_R}
)"""

# Candidate join buckets on the 60-bit md5 of the band key — the exact
# hash operators/lsh.py:compact_band_keys computes, so the candidate
# list matches bit-for-bit even in the (vanishing) collision case.
_CAND_CTE = f"""
bandh AS (SELECT doc_id, band, ({_md5_parse_sql("band_key")}) AS band_h FROM bands),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bandh a JOIN bandh b
    ON a.band = b.band AND a.band_h = b.band_h AND a.doc_id < b.doc_id
)"""

# Signature-agreement prefilter (operators/similarity.py EST_SLACK): the
# integer cutoff makes it engine-exact.
from mapreduce_minhash_lsh_spark.operators.similarity import min_agree as _min_agree

_AGREE_CTE = f"""
candf AS (
  SELECT c.doc_id_a, c.doc_id_b
  FROM cand c
  JOIN sig ga ON ga.doc_id = c.doc_id_a
  JOIN sig gb ON gb.doc_id = c.doc_id_b AND gb.h = ga.h
  GROUP BY c.doc_id_a, c.doc_id_b
  HAVING SUM(CASE WHEN ga.minhash = gb.minhash THEN 1 ELSE 0 END)
         >= {_min_agree(_CFG, _CFG.threshold)}
)"""

_JACCARD_CTE = """
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, count(*) AS n_common
  FROM candf c
  JOIN sh sa ON sa.doc_id = c.doc_id_a
  JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_id_a, c.doc_id_b
),
jac AS (
  SELECT i.doc_id_a, i.doc_id_b,
         CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_id_a
  JOIN sizes nb ON nb.doc_id = i.doc_id_b
)"""

_PIPELINE_CTES = ",".join([_SH_CTE, _VOCAB_CTE, _SIG_CTE, _BANDS_CTE, _CAND_CTE, _AGREE_CTE, _JACCARD_CTE])
