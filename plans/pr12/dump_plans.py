"""Dump the optimized and executed plans of ``dsir_logweights`` (both
branches) and the registered ``stateful_closed_sessions`` query.

    python3 dump_plans.py REPO_DIR SF_DIR OUT_DIR

REPO_DIR is the checkout whose package is imported (run it once per
checkout, with PYTHONPATH pointing at the same checkout so the Python
workers import it too); SF_DIR holds the testdata parquet tables.
Expression ids, plan ids, lambda-variable numbers and paths are
normalized so two checkouts' dumps diff cleanly.
"""

import hashlib
import os
import re
import sys

repo, sf, outdir = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
os.makedirs(outdir, exist_ok=True)

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_minhash_lsh_spark import registry  # noqa: E402
from mapreduce_minhash_lsh_spark.operators.dsir import dsir_logweights  # noqa: E402
from mapreduce_minhash_lsh_spark.session import get_spark  # noqa: E402
from mapreduce_minhash_lsh_spark.sources.tables import load_table  # noqa: E402

spark = get_spark(app_name="plans", shuffle_partitions=8)


def norm(s):
    s = re.sub(r"#\d+L?", "#X", s)
    s = re.sub(r"\[plan_id=\d+\]", "[plan_id=X]", s)
    s = re.sub(r"(MapPartitionsRDD|ParallelCollectionRDD)\[\d+\]", r"\1[X]", s)
    s = re.sub(r"x_\d+", "x_X", s)
    s = re.sub(r"file:[^ ,\]]*", "<path>", s)
    return re.sub(r"streaming_sessions_\d+", "<sink>", s)


def dump(name, df):
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    rows = sorted(tuple(r) for r in df.collect())
    exe = df._jdf.queryExecution().executedPlan().toString()
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
        f.write(f"rows={len(rows)} digest={digest}\n")
        f.write("== optimized ==\n" + norm(opt) + "\n== executed ==\n" + norm(exe) + "\n")
    print(name, len(rows), digest, flush=True)


docs = load_table(spark, sf, "documents")
dump(
    "dsir_logweights_target_pred",
    dsir_logweights(docs, n_buckets=512, target_pred=F.col("lang") == "en"),
)
dump(
    "dsir_logweights_target",
    dsir_logweights(
        docs, n_buckets=512, target=docs.where(F.col("lang") == "en").limit(200)
    ),
)
dump("stateful_closed_sessions", registry.queries()["stateful_closed_sessions"](spark, sf))
spark.stop()
