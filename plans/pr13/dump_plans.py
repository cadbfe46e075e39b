"""Dump the plans and rows of the band-store ingest and the incremental
streaming job.

    python3 dump_plans.py REPO_DIR TESTDATA_DIR OUT_DIR

REPO_DIR is the checkout whose package is imported (run it once per
checkout, with PYTHONPATH pointing at the same checkout so the Python
workers import it too); TESTDATA_DIR holds ``sf0.001`` and ``sf0.01``.

For each cfg, ``store_<tag>.txt`` holds the optimized logical plan of
every relation that ``cross_pairs_against_store`` and then
``build_band_store`` checkpoint (every ``localCheckpoint`` input, in
order): the store is built from the even doc ids of sf0.01 first, and
the odd ids are queried against it and then appended to it.  Expression
ids, plan ids, RDD ids, lambda-variable numbers and paths are
normalized.  ``summary.json`` holds, per cfg, the row count and digest
of the store query's output and of each stored table after the extend,
and, per streaming cfg, those of ``incremental_similar_pairs`` at
sf0.001 (threshold 0.3) and of its ``bands``/``shingles``/``pairs``
logs without their ``batch_id``.
"""

import dataclasses
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

repo, testdata, outdir = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
os.makedirs(outdir, exist_ok=True)

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_minhash_lsh_spark import registry  # noqa: E402
from mapreduce_minhash_lsh_spark.operators.bandstore import (  # noqa: E402
    build_band_store,
    cross_pairs_against_store,
)
from mapreduce_minhash_lsh_spark.session import get_spark  # noqa: E402
from mapreduce_minhash_lsh_spark.sources.tables import load_table  # noqa: E402
from mapreduce_minhash_lsh_spark.streaming.jobs import (  # noqa: E402
    incremental_similar_pairs,
)

spark = get_spark(app_name="plans", shuffle_partitions=8)
CFG = registry.PIPELINE_CFG
STORE_CFGS = {
    "md5": CFG,
    "xxhash_ids": dataclasses.replace(CFG, id_strategy="xxhash"),
    "xxhash_keys": dataclasses.replace(CFG, band_key_strategy="xxhash"),
    "oph": dataclasses.replace(CFG, sig_strategy="oph"),
}
STREAM_CFGS = {
    "md5": dataclasses.replace(CFG, num_hashes=32, num_bands=4),
    "xxhash_ids": dataclasses.replace(
        CFG, num_hashes=32, num_bands=4, id_strategy="xxhash"
    ),
    "oph": dataclasses.replace(
        CFG, num_hashes=32, num_bands=4, sig_strategy="oph"
    ),
}


def norm(s):
    s = re.sub(r"#\d+L?", "#X", s)
    s = re.sub(r"plan_id=\d+", "plan_id=X", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[X]", s)
    s = re.sub(r"\bx_\d+\b", "x_X", s)
    return re.sub(r"file:[^ ,\]]*", "<path>", s)


captured = []
# Patch the DataFrame class the session actually builds (a subclass of
# pyspark.sql.DataFrame that defines its own localCheckpoint).
_frame = type(spark.range(1))
_local_checkpoint = _frame.localCheckpoint


def _capturing(self, *a, **k):
    captured.append(self._jdf.queryExecution().optimizedPlan().toString())
    return _local_checkpoint(self, *a, **k)


_frame.localCheckpoint = _capturing


def digest(rows):
    rows = sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
    )
    return {
        "rows": len(rows),
        "digest": hashlib.sha256(repr(rows).encode()).hexdigest()[:16],
    }


summary = {}
docs = load_table(spark, f"{testdata}/sf0.01", "documents")
seen = docs.where(F.col("doc_id") % 2 == 0)
new = docs.where(F.col("doc_id") % 2 == 1)
for tag, cfg in STORE_CFGS.items():
    store = tempfile.mkdtemp(prefix="store_")
    try:
        build_band_store(seen, cfg, store)
        captured.clear()
        out = cross_pairs_against_store(new, cfg, store).collect()
        n_query = len(captured)
        build_band_store(new, cfg, store)
        if n_query == 0 or len(captured) == n_query:
            sys.exit(f"{tag}: no checkpointed relation captured")
        with open(os.path.join(outdir, f"store_{tag}.txt"), "w") as f:
            for i, p in enumerate(captured):
                call = "query" if i < n_query else "extend"
                f.write(f"== {call} relation {i} ==\n{norm(p)}\n")
        summary[f"store_{tag}"] = {
            "pairs": digest(out),
            **{
                t: digest(spark.read.parquet(f"{store}/{t}").collect())
                for t in ("signatures", "shingle_ids", "bands")
            },
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)
    print(tag, summary[f"store_{tag}"], flush=True)

for tag, cfg in STREAM_CFGS.items():
    state = tempfile.mkdtemp(prefix="state_")
    try:
        out = incremental_similar_pairs(
            spark, f"{testdata}/sf0.001", cfg, threshold=0.3, state_dir=state
        ).collect()
        # batch_id is left out: which split file a micro-batch reads
        # first follows the files' modification times.
        summary[f"stream_{tag}"] = {
            "output": digest(out),
            **{
                log: digest(
                    spark.read.parquet(f"{state}/{log}").drop("batch_id").collect()
                )
                for log in ("bands", "shingles", "pairs")
            },
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print(tag, summary[f"stream_{tag}"], flush=True)

with open(os.path.join(outdir, "summary.json"), "w") as f:
    json.dump(summary, f, indent=1, sort_keys=True)
spark.stop()
