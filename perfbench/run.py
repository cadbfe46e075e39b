#!/usr/bin/env python3
"""Dedup-pipeline benchmark.

    python3 perfbench/run.py --workload droplist_clustered --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload's corpus is generated from
``--seed`` and written to parquet under ``perfbench/.work`` before any
timer starts; the engine only reads those files.  With ``--trace 0`` the
benchmark times whole runs for ``--seconds`` seconds and reports the
end-to-end metrics; with ``--trace 1`` it makes one untraced and one
traced run and reports the per-layer metrics.  Every run's output is
checked against an independent expectation (see oracle.py).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the inputs and the individual runs.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from oracle import check  # noqa: E402
from spans import LAYER_FIELDS, StageCounters, Tracer  # noqa: E402
from workloads import LAYERS, WORKLOADS  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Timed runs per invocation, even past --seconds.  Two, because a run of
# either workload costs 5-9 s on a 4-core machine and a full benchmark
# session (48 invocations) must end within 3420 s.
MIN_RUNS = 2
MAX_CONSECUTIVE_FAILURES = 2

# Metric catalog (name -> unit); BENCHMARK.json lists the same names.
END_TO_END = {"run_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "setup_s": "s"}
RUN_COUNTS = {"shingling.rows": "count", "lsh.candidates": "count",
              "lsh.useful_ratio": "ratio", "verify.prefilter_pass_ratio": "ratio",
              "verify.pairs_out": "count", "dedup.groups": "count",
              "sources.written_mb": "MB", "session.stranded_mb": "MB",
              "trace.total_s": "s", "trace.overhead_s": "s"}


def per_layer_units(layers: tuple[str, ...]) -> dict[str, str]:
    out = {f"{layer}.{f}": u for layer in layers for f, u in LAYER_FIELDS.items()}
    out.update(RUN_COUNTS)
    return out


def _env(work: Path) -> None:
    """Keep Spark's scratch files inside the checkout and its footprint
    small; must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = os.cpu_count() or 4
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "pyspark-shell"
        ),
    })


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Bench:
    def __init__(self, wl, spark, counters):
        self.wl, self.spark, self.counters = wl, spark, counters
        self.expected: list[tuple] | None = None
        self.expected_s = 0.0  # engine-computed expectation time, not set-up
        self.runs: list[dict] = []

    def one_run(self, traced_with=None, counts: dict | None = None) -> dict:
        """Prepare, run (timed), then check the output and release what the
        run left persisted.  A run that raises counts as failed."""
        rec: dict = {}
        try:
            self.wl.prepare()
            self.counters.collect()  # forget jobs of earlier runs
            self.counters.set_group("run")
            t0 = time.perf_counter()
            if traced_with is None:
                out = self.wl.run(self.spark)
            else:
                out = self.wl.traced(self.spark, traced_with, counts)
            rec["run_s"] = time.perf_counter() - t0
            self.counters.set_group(None)
            if traced_with is None:
                c = self.counters.collect().get("run", {})
                rec["cpu_s"] = c.get("task_ms", 0.0) / 1000
                rec["shuffle_mb"] = c.get("shuffle_write_bytes", 0.0) / 2**20
                rec["jobs"] = int(c.get("jobs", 0))
            rows = self.wl.rows(out)
            del out
            if self.expected is None:
                t = time.perf_counter()
                self.expected = self.wl.expected(self.spark)
                self.expected_s = time.perf_counter() - t
            err = check(rows, self.expected) or self.wl.extra_check(self.spark)
            rec["rows"] = len(rows)
        except Exception as exc:  # a failed run is a result, not a crash
            traceback.print_exc()
            err = f"{type(exc).__name__}: {exc}"
        finally:
            self.counters.set_group(None)
        rec["ok"] = err is None
        if err:
            rec["error"] = err
            print(f"[perfbench] {self.wl.name}: run failed: {err}", file=sys.stderr)
        try:
            rec["stranded_mb"] = self.counters.stranded_mb()
        finally:
            self.counters.drop_all_persisted()
        self.runs.append(rec)
        return rec


def _median(runs: list[dict], key: str) -> float | None:
    """Median over the runs that got as far as measuring ``key``; a run
    whose output failed the check still counts (``correct`` is false)."""
    vals = [r[key] for r in runs if key in r]
    return statistics.median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mapreduce_minhash_lsh_spark" / "__init__.py").is_file():
        print("perfbench: the engine package is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = HERE / ".work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    wl = WORKLOADS[args.workload](args.seed, work, work_root / "cache")

    # Inputs and the DuckDB expectations are made before set-up is timed.
    t = time.perf_counter()
    shape = wl.generate()
    expected = wl.expected_before_spark()
    not_setup_s = time.perf_counter() - t

    from pyspark import __version__ as pyspark_version

    from mapreduce_minhash_lsh_spark.session import get_spark

    spark = None
    try:
        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        counters = StageCounters(spark)
        bench = Bench(wl, spark, counters)
        bench.expected = expected
        wl.setup(spark)
        # Warm-up: caches fill, code is generated and JIT-compiled.
        for _ in range(wl.warmup_runs):
            bench.one_run()
        setup_s = time.perf_counter() - T_START - not_setup_s - bench.expected_s

        if args.trace:
            metrics = _traced(bench, LAYERS, spark.sparkContext.defaultParallelism)
        else:
            t0 = time.perf_counter()
            failures = 0
            while (len(bench.runs) < wl.warmup_runs + MIN_RUNS
                   or time.perf_counter() - t0 < args.seconds):
                failures = 0 if bench.one_run()["ok"] else failures + 1
                if failures >= MAX_CONSECUTIVE_FAILURES:
                    break
            timed = bench.runs[wl.warmup_runs:]
            values = {k: _median(timed, k) for k in ("run_s", "cpu_s", "shuffle_mb")}
            values["setup_s"] = setup_s
            metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r["ok"] for r in bench.runs)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "corpus": shape, "expected_pairs": wl.expected_pairs,
        "expected_rows": len(bench.expected or []),
        "nproc": os.cpu_count(), "pyspark": pyspark_version,
        "setup_s": setup_s, "failed_frac": failed / len(bench.runs),
        "runs": bench.runs,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _traced(bench: Bench, layers: tuple[str, ...], cores: int) -> dict:
    """One untraced and one traced run; per-layer metrics of the latter."""
    untraced = bench.one_run()
    tracer = Tracer(bench.counters, cores)
    counts: dict = {}
    traced = bench.one_run(traced_with=tracer, counts=counts)
    per_layer, written_mb = tracer.layers(layers)
    values = {f"{layer}.{f}": v
              for layer, fields in per_layer.items() for f, v in fields.items()}
    cands = counts.get("lsh.candidates", 0)
    pairs_out = counts.get("verify.pairs_out", 0)
    values.update(counts)
    values.update({
        "lsh.useful_ratio": pairs_out / cands if cands else 0.0,
        "sources.written_mb": written_mb,
        "session.stranded_mb": traced.get("stranded_mb"),
        "trace.total_s": tracer.total_s(),
        "trace.overhead_s": (tracer.total_s() - untraced["run_s"]
                             if "run_s" in untraced else None),
    })
    return {name: (values.get(name, 0), unit)
            for name, unit in per_layer_units(layers).items()}


if __name__ == "__main__":
    sys.exit(main())
