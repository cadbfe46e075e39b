"""MinHash signatures (P3) — the algorithmic core of reference job 2.

Reference: per line, build a dense one-hot against the vocabulary
(MinHashLSH.java:74-85, O(vocab) per doc) then for each permutation scan
for the first hot position (:87-109, O(n^2) via indexOf).  Rebuild: the
textbook equivalent min over a universal hash family,

    sig_j(doc) = min over shingles s of  (a_j * id(s) + b_j) mod p

computed as ONE ``groupBy(doc_id)`` over one array-valued aggregate of
``num_hashes`` mins (:func:`affine_sig_agg`) — a single shuffle, map-side
partial aggregation for free, no vectors materialized, no Python in the
hot path.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.functions.hashing import md5_id, xxhash_id
from mapreduce_minhash_lsh_spark.operators.shingling import vocabulary


def shingle_ids(doc_shingles: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, shingle_id) under cfg.id_strategy.

    'rank'  : broadcast-join against the lexicographic vocabulary (small
              vocab) or shuffle-join (large) — Catalyst/AQE picks; exactly
              reproducible in SQL for the oracle.
    'md5'   : pure map-side md5-derived id — no vocabulary, no extra
              shuffle, AND engine-portable (the oracle parses the same
              hex): scale path + oracle-checkable at once.
    'xxhash': pure map-side xxhash64 — cheapest, not oracle-checkable.
    """
    if cfg.id_strategy == "md5":
        return doc_shingles.select(
            "doc_id", md5_id(F.col("shingle"), cfg.prime).alias("shingle_id")
        )
    if cfg.id_strategy == "xxhash":
        return doc_shingles.select(
            "doc_id", xxhash_id(F.col("shingle"), cfg.prime).alias("shingle_id")
        )
    vocab = vocabulary(doc_shingles)
    return doc_shingles.join(vocab, "shingle").select("doc_id", "shingle_id")


def affine_sig_agg(cfg: MinHashLSHConfig):
    """The affine signature aggregate over a ``shingle_id`` column:
    ``array(min((a_0 * shingle_id + b_0) % p), ..., min(..._{n-1})) AS
    sig`` — the one affine MinHash expression of the package; every
    affine signature relation is a ``groupBy("doc_id")`` over it.

    Built as ONE SQL-parsed expression (r14/r15): the Column form
    (F.min(affine_hash(...))) cost ~5 py4j round trips per hash —
    1.5-2.4 s of driver-side Python per construction at n=128, about a
    third of a flagship query's wall clock — and even one
    F.expr(...).alias(...) per named aggregate was still ~2 round trips
    each (~0.25 s at n=128).  The array of mins directly in the agg list
    is exactly the resultExpressions shape the optimizer produced from
    n named ``mh_j`` aggregates plus an ``array()`` projection after
    CollapseProject, so the optimized plan (same literals, same
    ``(a * x + b) % p`` shape — affine_hash's contract) and every value
    are the same; one F.expr call instead of ~n.  Spark keeps the
    n-buffer aggregate inside whole-stage codegen (the session raises
    spark.sql.codegen.maxFields for it), and the aggregate streams:
    constant per-group state, no per-doc shingle list materialized."""
    mins = ",".join(
        f"min(({a} * shingle_id + {b}) % {cfg.prime})"
        for a, b in cfg.hash_params()
    )
    return F.expr(f"array({mins}) AS sig")


def minhash_signatures_array(
    doc_shingles: DataFrame, cfg: MinHashLSHConfig
) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, sig: array<long>) — the primary
    shape: :func:`affine_sig_agg` grouped by doc_id over
    :func:`shingle_ids`.  Shapes measured at sf0.1 (5k docs, n=128,
    local[32]): the min aggregates ~1.3 s warm, whole-stage-codegen'd;
    collect_list + a nested ``transform`` ~2 s (higher-order functions
    stay outside whole-stage codegen); an explode-by-params long
    formulation ~1.5-2 s plus a 128x row fan-out before the partial
    aggregate."""
    return shingle_ids(doc_shingles, cfg).groupBy("doc_id").agg(
        affine_sig_agg(cfg)
    )


def sig_array_form(signatures: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """Signatures in the array shape (doc_id, sig, ...).  A relation that
    already has ``sig`` is returned unchanged; the wide (doc_id, mh_0 ..
    mh_{n-1}) form of :func:`minhash_signatures` is packed back into
    ``sig`` — the one place the wide shape is read."""
    if "sig" in signatures.columns:
        return signatures
    mh = ",".join(f"mh_{j}" for j in range(cfg.num_hashes))
    return signatures.selectExpr("doc_id", f"array({mh}) AS sig")


def signatures_array(doc_shingles: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, sig: array<long>) under
    ``cfg.sig_strategy``: :func:`oph_signatures_array` for 'oph',
    :func:`minhash_signatures_array` for 'affine'.  Over the same shingle
    relation the bytes equal the ``sig`` column of
    ``similarity.signature_set_relation`` under the same cfg, so
    signatures persisted through this helper band and agree with
    recomputed ones."""
    if cfg.sig_strategy == "oph":
        return oph_signatures_array(doc_shingles, cfg)
    return minhash_signatures_array(doc_shingles, cfg)


# Signature format that durable OPH state records (band stores, streaming
# state).  State written before :func:`signatures_array` honoured
# sig_strategy holds affine signatures under an 'oph' spec, which band
# and agree with nothing a correct OPH pipeline computes; the marker
# tells the two apart.  Affine state never had the fault and records no
# marker.
OPH_FORMAT = 2


def recorded_spec(cfg: MinHashLSHConfig, marker: str) -> tuple[str, str]:
    """``(spec, legacy)``: the JSON signature spec durable state records
    (``cfg.signature_spec()``, plus ``{marker: OPH_FORMAT}`` under OPH)
    and the spec that OPH state written before the marker carries.  The
    two are equal for an affine cfg."""
    fields = cfg.signature_spec()
    legacy = json.dumps(fields, sort_keys=True)
    if cfg.sig_strategy == "oph":
        fields[marker] = OPH_FORMAT
    return json.dumps(fields, sort_keys=True), legacy


def _guard_spec(
    cfg: MinHashLSHConfig,
    marker: str,
    label: str,
    read_stored: Callable[[], str | None] | None = None,
) -> tuple[str, str | None]:
    """The one signature-spec guard of durable state (band stores,
    streaming state): ``(spec, stored)``, the :func:`recorded_spec` to
    record and the one ``read_stored()`` found (None: nothing recorded
    yet).  Durable state holds bytes derived from the spec, so instead
    of silently under-matching it refuses, in this order:

    * ``id_strategy`` 'rank', before ``read_stored`` runs: its ids are
      ranks in each batch's own vocabulary, so no two batches'
      signatures agree;
    * OPH state recorded without the ``marker`` (written before
      :data:`OPH_FORMAT`): it holds affine signatures;
    * any other spec than the cfg's."""
    if cfg.id_strategy == "rank":
        raise ValueError(
            f"{label}: id_strategy 'rank' numbers shingles by each batch's "
            "own vocabulary, so no two batches' signatures agree; use "
            "id_strategy 'md5' or 'xxhash'."
        )
    spec, legacy = recorded_spec(cfg, marker)
    stored = None if read_stored is None else read_stored()
    if stored == legacy != spec:
        raise ValueError(
            f"{label} records sig_strategy 'oph' but was written before "
            f"{marker.replace('_', ' ')} {OPH_FORMAT}, when OPH state held "
            "affine signatures; rebuild it from its documents."
        )
    if stored not in (None, spec):
        raise ValueError(
            f"{label} was built with signature spec {stored}; refusing to "
            f"use it with {spec}, whose signatures and band keys would not "
            "match.  Rebuild it or use the original config."
        )
    return spec, stored


def minhash_signatures(doc_shingles: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, mh_0 .. mh_{n-1}) wide signature:
    the projection ``sig[j] AS mh_j`` of :func:`minhash_signatures_array`
    (one shuffle on doc_id — the reference needed a whole MR job plus a
    distributed-cache fan-out for this step, MinHashLSH.java:43-143)."""
    return minhash_signatures_array(doc_shingles, cfg).selectExpr(
        "doc_id", *(f"sig[{j}] AS mh_{j}" for j in range(cfg.num_hashes))
    )


def signatures_long(doc_shingles: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, h, minhash) long format — the SQL-oracle-friendly shape."""
    arr = minhash_signatures_array(doc_shingles, cfg)
    return arr.select("doc_id", F.posexplode("sig").alias("h", "minhash"))


def oph_signatures_array(
    doc_shingles: DataFrame, cfg: MinHashLSHConfig
) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, sig: array<long>) via ONE-PERMUTATION
    HASHING — cfg.sig_strategy='oph'.

    The affine family pays num_hashes multiply-mods per shingle row; at
    100 TB the signature stage is corpus_size x num_hashes of CPU.  OPH
    (Li/Owen/Zhang 2012) hashes each shingle ONCE, partitions the hash
    space into num_hashes buckets (shingle_id mod n), and takes the min
    per non-empty bucket.  Per-shingle work drops ~num_hashes-fold;
    collision probability per position remains ~J.

    Empty buckets are filled by OPTIMAL densification (Shrivastava, ICML
    2017 style): each empty slot probes a SLOT-SPECIFIC universal-hash
    sequence of donor buckets (rank 1..DENS_T) and copies the first
    non-empty bucket's min; rank 0 is the slot's own bucket.  Because
    the probe sequence depends on the slot (not the doc), two docs empty
    at the same slot walk the same donors and agree iff the first
    commonly-non-empty donor's mins agree — and because different slots
    probe independent sequences, adjacent empty slots decorrelate
    (rotation densification, removed, made them all borrow the same
    next non-empty bucket: 10.2x candidate inflation on short docs —
    experiments/results_r5.json, SCALE.md §10).  Spurious agreement
    across different donors is impossible by construction: bucket d's
    ids are ≡ d (mod num_hashes), so values copied from different
    buckets can never be equal.

    Plan: one aggregate over the big shingle relation (groupBy doc_id,
    bucket — map-side partials shrink it to <=n rows/doc/partition),
    then ONE groupBy(doc_id) collecting the (bucket -> bmin) map
    (:func:`oph_bucket_map`, <= n entries) whose select densifies by
    expression (:func:`oph_sig_expr`) — no probe join, no regroup, so
    the 100 TB cost is the single pass over the shingles.

    Engine-portable under the 'md5'/'rank' id strategies (integer mins,
    ranks and distances only) — the DuckDB oracle replays it exactly.
    """
    ids = shingle_ids(doc_shingles, cfg)
    b1 = ids.groupBy(
        "doc_id", (F.col("shingle_id") % cfg.num_hashes).alias("bucket")
    ).agg(F.min("shingle_id").alias("bmin"))
    return b1.groupBy("doc_id").agg(oph_bucket_map(cfg).alias("_bm")).select(
        "doc_id", oph_sig_expr(F.col("_bm"), cfg).alias("sig")
    )


# Optimal-densification probe-sequence constants — part of the pipeline
# SPEC (the DuckDB oracle embeds the same literals): empty slot i's j-th
# probe targets bucket ((DENS_A*(i*(DENS_T+1)+j) + DENS_B) mod prime) mod
# num_hashes.  DENS_A is Knuth's 32-bit golden-ratio multiplier; products
# stay far below 2^63 (slot*(T+1)+j <= ~2^12), so the arithmetic is exact
# int64 in both engines.
DENS_A = 2_654_435_761
DENS_B = 40_503
DENS_T = 16  # hashed probe attempts before the circular-walk fallback


def densify_probe_rows(cfg: MinHashLSHConfig) -> list[tuple[int, int, int]]:
    """The (slot, rank, donor-bucket) probe table of optimal
    densification — doc-independent (the sequence sharing across docs is
    what makes the estimator collision probability ~J, Shrivastava 2017),
    so it is computed once driver-side and broadcast: rank 0 is the slot
    itself, ranks 1..DENS_T are the universal-hash probes."""
    n = cfg.num_hashes
    rows = [(s, 0, s) for s in range(n)]
    for s in range(n):
        for r in range(1, DENS_T + 1):
            rows.append(
                (s, r, ((DENS_A * (s * (DENS_T + 1) + r) + DENS_B) % cfg.prime) % n)
            )
    return rows


def oph_bucket_map(cfg: MinHashLSHConfig):
    """The (bucket -> bmin) map aggregate — ONE collect per doc; pair it
    with :func:`oph_sig_expr` in the same groupBy's select to densify
    with zero additional shuffles (buckets are distinct per doc by
    construction, so map_from_entries cannot see a duplicate key)."""
    return F.map_from_entries(F.collect_list(F.struct("bucket", "bmin")))


def oph_sig_expr(bm, cfg: MinHashLSHConfig):
    """sig: array<long> as a PURE EXPRESSION over a (bucket -> bmin) map
    column — optimal densification with no plan beyond the one groupBy
    that built the map.

    Per slot s the value is
    ``coalesce(bm[s], bm[probe(s,1)], .., bm[probe(s,T)], walk(s))`` —
    rank-0 self-lookup, then the slot-keyed universal-hash probe
    sequence (the shared SPEC literals of :func:`densify_probe_rows`;
    the DuckDB oracle replays the same table), then the deterministic
    circular-walk fallback (argmin by clockwise distance over the doc's
    non-empty buckets, evaluated lazily — coalesce short-circuits, and
    P(all T probes miss) ~ empty_rate^T).  Bit-identical to the former
    probe-join formulation: coalesce in rank order IS argmin-by-rank,
    and the walk IS argmin-by-distance.

    Replaces the broadcast probe-join + left_anti + fallback-join +
    regroup plan (4 extra n-bounded doc_id shuffles) that made
    oph_similar_pairs ~1.8x the affine chain on short docs (VERDICT r5
    perf audit).

    Evaluation shape matters here, twice over:

    * CollapseProject folds this expression into the signature
      aggregate's resultExpressions, where ``bm`` is no longer a bound
      column but the raw ``map_from_entries(collect_list buffer)`` term
      — every textual reference re-BUILDS the map.  So each expensive
      input is referenced exactly once, via the single-element
      ``transform(array(x), x_bound -> ...)`` idiom (a lambda binding
      is evaluated once per row; Catalyst cannot inline-duplicate it
      the way CollapseProject duplicates a projected alias): the map is
      bound once, densified once into an n-slot ``vals`` array, and
      every probe is then an O(1) array index.
    * The expression must be SMALL.  A per-slot Python-unrolled
      coalesce chain is ~20n subtrees (~2 500 nodes at n=128) — each
      fresh plan then pays multi-second codegen/JIT of a giant
      generated class (measured ~4.5 s per call at n=128, dwarfing the
      0.3 s execution).  Instead the probe table is ONE constant-folded
      literal (n x T int matrix) and the slot loop is a generic
      ``transform`` over ``sequence(0, n-1)`` — ~60 expression nodes
      regardless of n.

    Per row: n map probes to build vals, then ~n·T O(1) array probes
    (the probe chain is evaluated eagerly per slot — T lookups into a
    plain long array cost less than the branchy short-circuit they
    would avoid), with the O(n)-per-slot circular walk only where every
    probe missed (P ~ empty_rate^T)."""
    n = cfg.num_hashes
    probes: dict[int, list[int]] = {}
    for s, r, d in densify_probe_rows(cfg):
        if r > 0:
            probes.setdefault(s, []).append(d)
    # Literal n x T donor matrix; CreateArray-of-literals constant-folds,
    # so the generated code carries one array literal, not 2 048 nodes.
    # Built as ONE SQL-parsed expression (r14): the Column form was
    # n x T F.lit py4j round trips (~1-2 s of driver-side Python per
    # OPH construction at n=128, T=16).
    probe_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(str(d) for d in probes[s]) + ")"
            for s in range(n)
        )
        + ")"
    )

    def sig_from_vals(vals):
        def slot_expr(s):
            # First non-empty probed donor in rank order == the coalesce
            # chain / argmin-by-rank of the SPEC.  F.get, not element_at:
            # the filtered array is EMPTY when every probe misses, and
            # ANSI element_at throws on out-of-bounds where get nulls.
            probe_hit = F.get(
                F.filter(
                    F.transform(
                        F.element_at(probe_lit, s + F.lit(1)),
                        lambda d: F.element_at(vals, d + F.lit(1)),
                    ),
                    lambda v: v.isNotNull(),
                ),
                0,
            )
            # Circular-walk fallback (argmin by clockwise distance over
            # the non-empty slots; array_min skips nulls), lazily
            # evaluated — coalesce short-circuits.
            walk = F.array_min(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n - 1)),
                    lambda d: F.when(
                        F.element_at(
                            vals, F.pmod(s + d, F.lit(n)) + F.lit(1)
                        ).isNotNull(),
                        F.struct(
                            d.alias("d"),
                            F.element_at(
                                vals, F.pmod(s + d, F.lit(n)) + F.lit(1)
                            ).alias("v"),
                        ),
                    ),
                )
            )["v"]
            return F.coalesce(
                F.element_at(vals, s + F.lit(1)), probe_hit, walk
            )

        return F.transform(F.sequence(F.lit(0), F.lit(n - 1)), slot_expr)

    def from_bound_map(bmv):
        vals_expr = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.element_at(bmv, i)
        )
        return F.transform(F.array(vals_expr), sig_from_vals)[0]

    return F.transform(F.array(bm), from_bound_map)[0]
