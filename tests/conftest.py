from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def job_counters(spark, fn, every_job: bool = False) -> tuple[int, int]:
    """Run ``fn()`` under a fresh job group; return ``(jobs,
    shuffle_write_bytes)`` summed over the jobs it launched, read from the
    application status store (kept with the UI disabled).  Jobs that
    adaptive execution submits from its own threads inherit the group.
    Skipped stages (shuffle output reused from an earlier job) write
    nothing and are not counted.

    A streaming query runs its micro-batches on its own thread, outside
    the caller's job group; ``every_job=True`` counts every job started
    while ``fn`` runs instead, so nothing else may run meanwhile."""
    import uuid

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    jsc.listenerBus().waitUntilEmpty()
    before = store.jobsList(None)
    first = 1 + max(
        (before.apply(i).jobId() for i in range(before.size())), default=-1
    )
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = shuffle = 0
    all_jobs = store.jobsList(None)
    for i in range(all_jobs.size()):
        job = all_jobs.apply(i)
        grp = job.jobGroup()
        if every_job:
            if job.jobId() < first:
                continue
        elif not (grp.isDefined() and grp.get() == group):
            continue
        jobs += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(
                ids.apply(k), False, no_status, False, no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() != "SKIPPED":
                    shuffle += st.shuffleWriteBytes()
    return jobs, shuffle


@pytest.fixture(scope="session")
def spark():
    from mapreduce_minhash_lsh_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


# The reference's 5-line demo corpus (src/main/resources/documents.txt),
# ids = line numbers (the reference uses byte offsets 0,17,39,57,111 —
# an MR artifact; identity is what matters for parity).
GOLDEN_DOCS = [
    (0, "I ate an apple."),
    (1, "I went to the Apple."),
    (2, "I ate an orange."),
    (3, "This has nothing in common with the other sentences."),
    (4, "This sentence has a lot in common with the previous sentence."),
]

# Undirected golden pair set from results/pairs/part-r-00000.
GOLDEN_PAIRS = {(0, 2), (3, 4)}


@pytest.fixture()
def golden_docs(spark):
    return spark.createDataFrame(GOLDEN_DOCS, ["doc_id", "text"])
