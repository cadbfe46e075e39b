#!/usr/bin/env python3
"""Skewed-corpus probe (SCALE.md §7): a boilerplate-clique corpus where
FRACTION of the docs share one template (j~1 with each other — one hot
band bucket holding clique_size members, clique_size^2/2 potential
pairs), the rest are the ordinary sf0.1 documents.  Measures the
candidate stage under the three skew policies:

    uncapped : no max_bucket_size — AQE skew-join is the only defense
    drop     : max_bucket_size=CAP, oversized buckets discarded
    split    : max_bucket_size=CAP, triangle-block decomposition
               (full recall, bounded per-task work)

    python3 experiments/skew_probe.py [CLIQUE_FRACTION=0.2] [CAP=256]

Prints one JSON line with candidate counts + wall per policy so rounds
can be compared.  Expected shape: drop ~= the clean-corpus wall (the
clique's work vanishes), split pays ~clique_pairs of extra output —
the unavoidable price of full recall — with NO single straggler task.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.config import MinHashLSHConfig
from mapreduce_minhash_lsh_spark.operators.lsh import banded_pairs
from mapreduce_minhash_lsh_spark.operators.minhash import minhash_signatures_array
from mapreduce_minhash_lsh_spark.operators.shingling import explode_shingles
from mapreduce_minhash_lsh_spark.session import get_spark
from mapreduce_minhash_lsh_spark.sources.tables import load_table


def main() -> None:
    frac = float(sys.argv[1]) if len(sys.argv) > 1 else 0.2
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    spark = get_spark(app_name="skew-probe")
    spark.range(1).count()
    base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_base = base.count()
    n_clique = int(n_base * frac / (1 - frac))
    template = (
        "this exact boilerplate template is repeated verbatim across the "
        "whole clique of pages with no variation at all " * 4
    )
    clique = spark.range(n_clique).select(
        (F.col("id") + 10_000_000).alias("doc_id"), F.lit(template).alias("text")
    )
    docs = (
        base.select("doc_id", "text").unionByName(clique)
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()

    cfg = MinHashLSHConfig(
        num_hashes=128, num_bands=8, threshold=0.8,
        id_strategy="xxhash", band_key_strategy="xxhash",
    )
    sh = explode_shingles(docs, cfg.k).persist()
    sig = minhash_signatures_array(sh, cfg).localCheckpoint(eager=True)

    def run(policy: str) -> dict:
        if policy == "uncapped":
            c = banded_pairs(sig, cfg)
        else:
            c = banded_pairs(sig, cfg, max_bucket_size=cap, oversize=policy)
        c.count()  # warm the generated code
        t0 = time.perf_counter()
        n = c.count()
        return {"candidates": n, "wall_sec": round(time.perf_counter() - t0, 2)}

    out = {
        "clique_fraction": frac,
        "clique_size": n_clique,
        "docs": n_docs,
        "cap": cap,
        "policies": {p: run(p) for p in ("drop", "split", "uncapped")},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
