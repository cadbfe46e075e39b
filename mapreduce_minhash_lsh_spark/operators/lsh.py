"""LSH banding + candidate generation (P4, J1, F2) — reference job 2's
shuffle/reduce side, rebuilt as a band-key equi-self-join.

Reference: signatures are split into bands whose values (comma-joined,
WITHOUT the band index — a defect: buckets from different bands merge,
MinHashLSH.java:138-142) key an MR shuffle; one reducer then does an
O(m^2) nested-loop over each bucket (MinHashLSH.java:168-193) with a
vacuous similarity filter (it compares a signature to itself, :176).

Rebuild: band key = (band_idx, joined values) — band-indexed, fixing the
collision defect — and candidates come from a hash/sort-merge *equi-join*
of the band table with itself, which Spark shuffles, spills, and
AQE-skew-splits; the quadratic work is bounded per bucket and
parallelized instead of serialized into one reducer.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.minhash import sig_array_form


def band_keys(signatures: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """Signatures -> (doc_id, band, band_key).

    band_key joins the band's r minhash values with ',' in hash order —
    same encoding as the reference (MinHashLSH.java:135-141) plus the
    band index carried alongside.  posexplode keeps this a pure map-side
    reshape (no shuffle).  Wide signatures are read through
    ``minhash.sig_array_form``.
    """
    r = cfg.rows_per_band
    keys = F.array(*[
        F.array_join(
            F.transform(
                F.slice("sig", band * r + 1, r), lambda x: x.cast("string")
            ),
            ",",
        )
        for band in range(cfg.num_bands)
    ])
    return sig_array_form(signatures, cfg).select(
        "doc_id", F.posexplode(keys).alias("band", "band_key")
    )


def compact_band_keys(signatures: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """:func:`bands_for` with 'md5' keys whatever ``cfg.band_key_strategy``
    says — the format band stores and streaming state persist.  Stores
    have always held md5 keys while recording the cfg's
    band_key_strategy in their spec, so a spec naming 'xxhash' cannot
    tell an older store from a newer one; md5 keeps every store
    readable."""
    return bands_for(signatures, replace(cfg, band_key_strategy="md5"))


def bands_for(signatures: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, band, band_key) under ``cfg.band_key_strategy``.

    'md5' (engine-portable, oracle-checkable — the default): the 60-bit
    md5 prefix of :func:`band_keys`' comma-joined string key.  That
    string is ~10 chars per minhash value (~170 B at r=16), and at the
    10x probe its handling was most of the band join's 3.6 s; the md5
    prefix (the parse the DuckDB oracle replays —
    functions/hashing.py:md5_long) cuts the key to 8 B, and the oracle
    buckets on the identical hash, so the candidate list stays bit-exact
    across engines.  'xxhash': one xxhash64 over the band index and its
    r minhash longs — no string build, no md5; cheapest, production.  A
    collision only ADDs a candidate pair, which exact verification then
    scores."""
    return sig_array_form(signatures, cfg).select(
        "doc_id", F.posexplode(_key_array(cfg)).alias("band", "band_key")
    )


def _key_array(cfg: MinHashLSHConfig):
    """Column: array of num_bands compact band keys (one long per band)
    over the ``sig`` column, under cfg.band_key_strategy — the per-doc
    band-key vector.

    Built as ONE SQL-parsed expression (r14): the Column form cost
    ~0.2-0.5 s of driver-side py4j per construction, paid by every
    similarity-family query; the parsed tree (and so the plan and every
    key value) is identical — md5_long's conv/substring parse and the
    band-indexed xxhash64 are rendered verbatim."""
    r = cfg.rows_per_band
    if cfg.band_key_strategy == "xxhash":
        keys = ",".join(
            f"xxhash64({band},"
            + ",".join(f"sig[{band * r + i}]" for i in range(r))
            + ")"
            for band in range(cfg.num_bands)
        )
    else:
        keys = ",".join(
            "CAST(conv(substring(md5(array_join(transform("
            f"slice(sig, {band * r + 1}, {r}), x -> CAST(x AS STRING)), ',')), "
            "1, 15), 16, 10) AS BIGINT)"
            for band in range(cfg.num_bands)
        )
    return F.expr(f"array({keys})")


def _not_earlier(
    cfg: MinHashLSHConfig,
    keys_a: str,
    keys_b: str,
    survs_a: str | None = None,
):
    """CASE-over-band filter: keep a band match only if NO earlier band
    also matched (and, when a survival vector is supplied, survived the
    bucket-size cap).  ``keys_a``/``keys_b``/``survs_a`` are SQL
    fragment templates with a ``{j}`` placeholder (e.g. ``"a.keys[{j}]"``)
    — the whole CASE is rendered as text and parsed once (r14: the
    Column-built chain cost ~0.4-0.5 s of driver-side py4j per
    construction; the parsed tree is identical).  Plain getItem+AND/OR
    chains stay inside whole-stage codegen (no higher-order functions);
    survival is a bucket property, so when keys agree at band j both
    sides' survival flags are equal and side a's suffices."""
    def match(j: int) -> str:
        c = f"({keys_a.format(j=j)} = {keys_b.format(j=j)})"
        if survs_a is not None:
            c = f"({c} AND {survs_a.format(j=j)})"
        return c

    whens = ["WHEN band = 0 THEN true"]
    for bi in range(1, cfg.num_bands):
        earlier = " OR ".join(match(j) for j in range(bi))
        whens.append(f"WHEN band = {bi} THEN NOT ({earlier})")
    return F.expr("CASE " + " ".join(whens) + " END")


def _lowest_band_join(
    cfg: MinHashLSHConfig,
    rows_a: DataFrame,
    rows_b: DataFrame | None = None,
    on: tuple[str, ...] = ("band", "band_key"),
    keys: str = "keys",
    survs: bool = False,
    claim=None,
) -> DataFrame:
    """Band rows -> (doc_id_a, doc_id_b), each pair kept only at its
    lowest agreeing (with ``survs``: surviving) band.  Self-join keeps
    doc_id_a < doc_id_b; with ``rows_b`` a-side ids stay in doc_id_a.
    ``claim`` is an extra per-match filter ahead of that check."""
    a = rows_a.alias("a")
    b = (rows_a if rows_b is None else rows_b).alias("b")
    ida, idb = F.col("a.doc_id"), F.col("b.doc_id")
    pairs = a.join(b, list(on)).where(ida < idb if rows_b is None else ida != idb)
    if claim is not None:
        pairs = pairs.where(claim)
    surv = "a.survs[{j}]" if survs else None
    ne = _not_earlier(cfg, f"a.{keys}[{{j}}]", f"b.{keys}[{{j}}]", surv)
    return pairs.where(ne).select(ida.alias("doc_id_a"), idb.alias("doc_id_b"))


def _band_rows(signatures: DataFrame, cfg: MinHashLSHConfig) -> DataFrame:
    """(doc_id, keys, band, band_key): one row per band, each carrying
    the doc's full band-key vector — computed map-side, no regroup."""
    # posexplode_outer: Spark infers size(keys) > 0 under a plain
    # posexplode and pushes it below this projection, computing every
    # band key twice; keys always holds num_bands >= 1 entries, so the
    # outer form yields the same rows.
    return sig_array_form(signatures, cfg).select(
        "doc_id", _key_array(cfg).alias("keys")
    ).select(
        "doc_id", "keys", F.posexplode_outer("keys").alias("band", "band_key")
    )


# Buckets above this many members go through the triangle split under
# oversize='auto'; smaller ones take the plain per-bucket join, which AQE
# handles comfortably.  Measured crossover (SCALE.md §7): a 1 250-member
# bucket is pure overhead to split (plain join 0.77 s vs split 2.94 s),
# a 5 000-member bucket splits 1.9x faster than AQE-only (21.9 s vs
# 42.0 s) — the boundary sits between 10^3 and 10^4.
AUTO_SPLIT_THRESHOLD = 2048


def banded_pairs(
    signatures: DataFrame,
    cfg: MinHashLSHConfig,
    sig_b: DataFrame | None = None,
    max_bucket_size: int | None = None,
    oversize: str = "drop",
    auto_split_threshold: int = AUTO_SPLIT_THRESHOLD,
) -> DataFrame:
    """Signatures -> distinct
    candidate pairs (doc_id_a, doc_id_b) WITHOUT a global distinct: each
    pair is emitted exactly once, by its LOWEST agreeing band (the one
    LSH candidate generator; stored band rows take :func:`band_row_pairs`).

    A distinct-based join emits a pair once per agreeing band and
    deduplicates with a ``.distinct()`` — for near-identical docs all b
    bands agree, so the distinct shuffles ~b rows per true pair (the
    widest shuffle of the flagship at the 10x probe).  Here each band
    row carries the doc's full band-key vector (b longs — +~64 B on the
    band relation, negligible), and after the equi-join a codegen'd
    CASE-over-band filter keeps the match only if NO earlier band also
    matched.  Two docs can match a given band in exactly one bucket
    (the bucket IS their shared key), so "lowest agreeing band" is
    unique — each pair survives exactly once.

    ``sig_b``: asymmetric cross-corpus join (a-side ids always in
    doc_id_a), uncapped only.

    ``max_bucket_size`` bounds pathological buckets (near-identical
    boilerplate at web scale makes single buckets with 10^6 members ->
    10^12 pairs).  Three policies, each still emitting every pair once
    by its lowest SURVIVING agreeing band:

    - ``oversize="drop"``: oversized buckets are discarded — trades
      recall for survival.  Pays one regroup of the docs x num_bands
      relation for the per-doc survival vectors — bounded by corpus
      size, never by pair volume.
    - ``oversize="split"``: full recall with the SAME per-task bound.
      Each oversized bucket's members are hashed into ``B = ceil(n /
      max_bucket_size)`` sub-blocks (xxhash64 — uniform regardless of id
      structure) and replicated to the B unordered block-pairs they
      participate in — the triangle decomposition proven in
      ``ann.cosine_pairs``.  The equi-join is then keyed by (band,
      band_key, gi, gj), so per-join-key membership is <= 2 blocks ~
      2*max_bucket_size rows and the quadratic work is sliced across
      B*(B+1)/2 independent keys instead of one hot key.  An unordered
      pair (p-block, q-block) co-occupies exactly one group when p != q;
      intra-block pairs are claimed only by the diagonal group (gi==gj)
      — so every pair is emitted exactly once.  Replication cost: n*B ~
      n^2/cap rows per hot bucket — same order as the pair output
      itself, i.e. the unavoidable price of full recall, NOT an extra
      asymptotic term.
    - ``oversize="auto"``: full recall like 'split', but the triangle
      decomposition is engaged only for buckets above
      ``auto_split_threshold`` (default the measured plain-join/split
      crossover); buckets between ``max_bucket_size`` and the threshold
      take the plain join, where AQE's skew handling is measured faster
      than paying the split's block replication.

    AQE skew-join handles moderate skew below the cap in all modes.
    """
    if oversize not in ("drop", "split", "auto"):
        raise ValueError("oversize must be 'drop', 'split' or 'auto'")
    rows = _band_rows(signatures, cfg)
    if sig_b is not None:
        if max_bucket_size is not None:
            raise ValueError("capped cross-corpus pairs: use band_row_pairs")
        return _lowest_band_join(cfg, rows, _band_rows(sig_b, cfg))
    if max_bucket_size is None:
        return _lowest_band_join(cfg, rows)
    # Bucket sizes as a window over the band rows, not an aggregate
    # joined back to them: every consumer below then reads the one
    # exchange under the window, which adaptive execution reuses, so
    # each band key is computed once.
    rows = rows.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "band_key"))
    )

    if oversize == "drop":
        # Survival is a global bucket property, so each doc's per-band
        # survival vector needs one regroup of the docs x num_bands
        # relation — the (bounded) price of dropping the pair-fanout
        # distinct.  The join then runs on surviving rows only, and the
        # lowest-band filter checks key equality AND survival.
        flagged = rows.select(
            "doc_id", "band", "band_key",
            (F.col("_n") <= max_bucket_size).alias("_s"),
        )
        vecs = flagged.groupBy("doc_id").agg(
            F.array_sort(
                F.collect_list(F.struct("band", "band_key", "_s"))
            ).alias("v")
        )
        surv_rows = (
            vecs.select(
                "doc_id",
                F.transform("v", lambda s: s["band_key"]).alias("keys"),
                F.transform("v", lambda s: s["_s"]).alias("survs"),
            )
            .select(
                "doc_id", "keys", "survs",
                # outer: no inferred size(keys) > 0 filter (see _band_rows)
                F.posexplode_outer("keys").alias("band", "band_key"),
            )
            .where(F.element_at("survs", F.col("band") + 1))
        )
        return _lowest_band_join(cfg, surv_rows, survs=True)

    # Full-recall modes: every bucket emits (plain join below the split
    # threshold, triangle decomposition above), so survival is vacuous
    # and the lowest-band filter needs keys only.
    thr = (
        max_bucket_size
        if oversize == "split"
        else max(max_bucket_size, auto_split_threshold)
    )
    small = _lowest_band_join(cfg, rows.where(F.col("_n") <= thr).drop("_n"))
    # The lowest-band filter only inspects keys at bands EARLIER than
    # the row's own band, so the ~nblk-fold triangle-split replication
    # carries the prefix slice keys[0..band-1] (avg num_bands/2 longs,
    # zero for band 0) instead of the full vector — roughly halving the
    # widest shuffle of the hot-bucket path.  (Re-attaching keys via a
    # post-join against the doc-bounded docvec was considered and
    # rejected: it would shuffle the PAIR relation — per hot bucket
    # ~n^2/2 rows, vs n^2/cap replica rows here — twice, strictly more
    # bytes whenever cap >> num_bands/2.)
    nblk = F.ceil(F.col("_n") / F.lit(max_bucket_size)).cast("int")
    big_rows = (
        rows.where(F.col("_n") > thr)
        .select(
            "doc_id",
            F.slice("keys", F.lit(1), F.col("band")).alias("pkeys"),
            "band", "band_key",
            F.pmod(F.xxhash64("doc_id"), nblk).cast("int").alias("blk"),
            nblk.alias("_nblk"),
        )
        .select(
            "doc_id", "pkeys", "band", "band_key", "blk",
            F.explode(F.sequence(F.lit(0), F.col("_nblk") - 1)).alias("h"),
        )
        .select(
            "doc_id", "pkeys", "band", "band_key", "blk",
            F.least("blk", "h").alias("gi"),
            F.greatest("blk", "h").alias("gj"),
        )
    )
    big = _lowest_band_join(
        cfg, big_rows, on=("band", "band_key", "gi", "gj"), keys="pkeys",
        # exactly-once claim within the bucket: diagonal groups own
        # intra-block pairs, off-diagonal groups own cross-block pairs
        claim=F.when(
            F.col("gi") == F.col("gj"), F.col("a.blk") == F.col("b.blk")
        ).otherwise(F.col("a.blk") != F.col("b.blk")),
    )
    return small.unionByName(big)


def band_row_pairs(
    bands_a: DataFrame, bands_b: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Cross-corpus candidates from two (doc_id, band, band_key) band
    relations — the form a band store persists, with no per-doc key
    vector for lowest-band emission, so pairs end in a distinct.
    ``max_bucket_size`` caps each side's bucket independently (a
    boilerplate clique on either side makes the bucket join
    quadratic); a bucket over the cap on either side emits nothing."""
    def _cap(b: DataFrame) -> DataFrame:
        if max_bucket_size is None:
            return b
        sized = b.groupBy("band", "band_key").agg(F.count("*").alias("_n"))
        return b.join(
            sized.where(F.col("_n") <= max_bucket_size), ["band", "band_key"]
        ).drop("_n")

    return (
        _cap(bands_a)
        .withColumnRenamed("doc_id", "doc_id_a")
        .join(
            _cap(bands_b).withColumnRenamed("doc_id", "doc_id_b"),
            ["band", "band_key"],
        )
        .where(F.col("doc_id_a") != F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )


def candidate_volume_bound(
    rel: DataFrame,
    cfg: MinHashLSHConfig,
    rel_b: DataFrame | None = None,
    bucket_cap: int | None = None,
) -> int:
    """Upper bound on the DISTINCT candidate pairs the band join over
    ``rel`` (x ``rel_b`` cross-corpus) can emit — sum over (band,
    bucket) of C(n, 2) (or n_a * n_b) — computed BEFORE any pair
    exists: one partial-aggregated shuffle of (band_key, count) rows,
    never the pairs themselves.  It is a bound, not an estimate:
    lowest-band emission / the cross-corpus distinct only ever emit
    FEWER distinct pairs than the per-band sum, so "bound <= budget"
    proves the unbarriered verify join is safe.

    This is the pair-volume valve's cheap trigger (VERDICT r9 #2): the
    always-on persist+count of the full candidate list — a 12%
    flagship premium at benign scale — is replaced by this scalar; the
    exact count is paid only when the bound exceeds budget, i.e. when
    chunking is already on the table.

    ``bucket_cap`` mirrors ``oversize='drop'`` (a capped bucket emits
    nothing).  Under 'split'/'auto' leave it None: splitting preserves
    the bucket's pair set, so C(n, 2) still bounds it.
    """
    if rel_b is None:
        sized = bands_for(rel, cfg).groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("na")
        )
        contrib = F.expr("na * (na - 1) div 2")
        fits = F.col("na") <= bucket_cap if bucket_cap is not None else None
    else:
        sized = (
            bands_for(rel, cfg).withColumn("side", F.lit(0))
            .unionByName(bands_for(rel_b, cfg).withColumn("side", F.lit(1)))
            .groupBy("band", "band_key")
            .agg(
                F.count(F.when(F.col("side") == 0, 1)).alias("na"),
                F.count(F.when(F.col("side") == 1, 1)).alias("nb"),
            )
        )
        contrib = F.col("na") * F.col("nb")
        fits = (
            (F.col("na") <= bucket_cap) & (F.col("nb") <= bucket_cap)
            if bucket_cap is not None else None
        )
    if fits is not None:
        contrib = F.when(fits, contrib).otherwise(F.lit(0))
    row = sized.agg(F.sum(contrib).alias("est")).first()
    return int(row.est or 0)
