"""Deterministic pipeline configuration.

The reference derives its MinHash permutations from an *unseeded*
``java.util.Random`` (reference MinHashLSH.java:254-263), which makes its
output irreproducible (SURVEY.md §2.6).  The rebuild replaces explicit
permutations with a seeded universal-hash family h_j(x) = (a_j*x + b_j) mod p
over shingle ids — the standard MinHash formulation (MMDS ch. 3), and what
MLlib's MinHashLSH does internally.  All randomness flows from ``seed``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Mersenne prime 2^31 - 1: the classic universal-hashing modulus. Products
# a * x stay < 2^31 * 2^31 = 2^62 < 2^63, so the arithmetic is exact in
# 64-bit integers on both the Spark side and the DuckDB oracle side.
MERSENNE_PRIME = 2_147_483_647


@dataclass(frozen=True)
class MinHashLSHConfig:
    """Parameters of the shingle -> MinHash -> LSH -> verify pipeline.

    Mirrors the reference driver's constants (reference Main.java:53-57:
    k=3, signatureSize=numBands*rows, jaccardThreshold) but seeded and with
    band-indexed keys (the reference omits the band index from the bucket
    key — SURVEY.md §2.7).
    """

    k: int = 3                 # shingle length, chars, overlapping stride 1
    num_hashes: int = 16       # signature length
    num_bands: int = 4         # LSH bands; rows_per_band = num_hashes // num_bands
    threshold: float = 0.8     # exact-Jaccard verification threshold
    seed: int = 42
    prime: int = MERSENNE_PRIME
    # 'rank': shingle id = dense lexicographic rank of the vocabulary
    #   (deterministic, SQL-expressible -> used by the DuckDB oracle twin).
    # 'md5': shingle id = first 60 bits of md5(shingle) mod p — map-side
    #   like 'xxhash' (no vocabulary pass at all) AND engine-portable, so
    #   it is both the scale path and oracle-checkable.  The default for
    #   the flagship pipeline.
    # 'xxhash': shingle id = xxhash64(shingle) mod p (cheapest per row;
    #   not SQL-oracle-checkable — no xxhash64 in DuckDB).
    id_strategy: str = "rank"
    # Band-bucket key hash for the candidate join (operators/lsh.py):
    # 'md5': 60-bit md5 prefix of the comma-joined band values —
    #   engine-portable, so the DuckDB oracle buckets identically; the
    #   default for every checked query.
    # 'xxhash': one xxhash64 over (band index, the band's r minhash
    #   longs) — no string materialization, no crypto hash; the
    #   production path.  Collisions only ADD candidates, and exact
    #   verification scores them, so verified output is unchanged
    #   (pinned by tests/test_pipeline_golden.py).
    band_key_strategy: str = "md5"
    # Signature scheme:
    # 'affine': num_hashes independent (a_j*x + b_j) mod p mins — the
    #   textbook family; per-shingle cost is num_hashes multiply-mods.
    # 'oph': one-permutation hashing (Li, Owen, Zhang 2012): ONE hash
    #   per shingle, bucketed mod num_hashes, min per bucket; empty
    #   buckets are filled by optimal densification
    #   (operators/minhash.oph_signatures_array).  ~num_hashes-fold less
    #   signature CPU — the 100 TB path for long documents; higher
    #   estimator variance on short ones.
    sig_strategy: str = "affine"

    def __post_init__(self) -> None:
        if self.num_hashes % self.num_bands != 0:
            raise ValueError("num_hashes must be divisible by num_bands")
        if self.id_strategy not in ("rank", "md5", "xxhash"):
            raise ValueError(f"unknown id_strategy {self.id_strategy!r}")
        if self.band_key_strategy not in ("md5", "xxhash"):
            raise ValueError(
                f"unknown band_key_strategy {self.band_key_strategy!r}"
            )
        if self.sig_strategy not in ("affine", "oph"):
            raise ValueError(f"unknown sig_strategy {self.sig_strategy!r}")

    def signature_spec(self) -> dict:
        """The cfg fields that determine signature/band-key BYTES (not
        merely candidate quality).  Any persisted artifact derived from
        signatures — band stores, incremental-pipeline state — must
        record this dict and refuse to operate under a cfg whose spec
        differs: mixed-version state silently under-matches (a doc's
        old and new signatures stop agreeing with each other), which is
        strictly worse than failing.  ``threshold`` is deliberately
        absent (it only filters results).  ``densify`` is the constant
        'optimal', the one OPH densification since rotation was removed:
        every stored spec records it, and a spec recording 'rotation'
        (an OPH artifact of the removed scheme) is refused as a
        mismatch."""
        return {
            "k": self.k,
            "num_hashes": self.num_hashes,
            "num_bands": self.num_bands,
            "seed": self.seed,
            "prime": self.prime,
            "id_strategy": self.id_strategy,
            "band_key_strategy": self.band_key_strategy,
            "sig_strategy": self.sig_strategy,
            "densify": "optimal",
        }

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.num_bands

    def hash_params(self) -> list[tuple[int, int]]:
        """Seeded (a_j, b_j) coefficients for h_j(x) = (a_j*x + b_j) mod p.

        a in [1, p-1] (non-degenerate), b in [0, p-1].  Same literals are
        embedded in the DuckDB oracle SQL so both engines compute identical
        signatures.
        """
        rng = random.Random(self.seed)
        return [
            (rng.randint(1, self.prime - 1), rng.randint(0, self.prime - 1))
            for _ in range(self.num_hashes)
        ]


# Flagship config used by __spark_entry__ and the benchmarks.  b=4, r=4
# puts the LSH s-curve threshold (1/b)^(1/r) ~= 0.71, appropriate for the
# 0.8-Jaccard verification threshold the reference's README promises
# (reference README.md:2-3).
FLAGSHIP = MinHashLSHConfig()

# Golden-parity config for the reference's 5-line demo corpus
# (reference src/main/resources/documents.txt).  The reference's own
# threshold filter is vacuous (it compares a signature with itself —
# reference MinHashLSH.java:176), so its committed "pairs" output is simply
# every co-bucketed pair.  The two golden pairs have true 3-gram Jaccard
# 0.35 and 0.456; all other pairs are <= 0.107.  With r=1 (16 bands of one
# row) recall at j>=0.35 is ~1-(1-j)^16 > 0.999, and exact verification at
# threshold 0.3 separates the golden pairs from the rest deterministically.
GOLDEN = MinHashLSHConfig(k=3, num_hashes=16, num_bands=16, threshold=0.3, seed=42)
