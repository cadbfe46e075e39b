"""Self-tests of the benchmark's generator and output checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import corpus  # noqa: E402
import oracle  # noqa: E402


def _bytes(c: corpus.Corpus, d: Path) -> bytes:
    return corpus.write_documents(c, d).read_bytes()


def test_same_seed_gives_identical_parquet(tmp_path):
    makers = [
        lambda s: corpus.sparse_pairs(s, 300, 0.05),
        lambda s: corpus.clustered(s, 300, 20, 0.8),
        lambda s: corpus.seen_and_new(s, 300, 50, 0.1)[1],
    ]
    for i, make in enumerate(makers):
        first = _bytes(make(7), tmp_path / f"a{i}")
        assert first == _bytes(make(7), tmp_path / f"b{i}")
        assert first != _bytes(make(8), tmp_path / f"c{i}")


def test_corpus_shape_matches_the_testdata_documents():
    c = corpus.clustered(3, 400, 20, 0.8)
    ids = [i for i, _ in c.docs]
    assert sorted(ids) == list(range(400))
    for _, text in c.docs:
        toks = text.split(" ")
        assert corpus.MIN_TOKENS <= len(toks) <= corpus.MAX_TOKENS
        assert set(toks) <= set(corpus.VOCAB)
    assert 230 < c.shape()["mean_chars"] < 330
    seen, new = corpus.seen_and_new(3, 100, 20, 0.5)
    assert not {i for i, _ in seen.docs} & {i for i, _ in new.docs}


def test_check_rejects_a_missing_pair():
    pairs = [(1, 2, 0.9), (1, 3, 0.85), (7, 9, 1.0)]
    assert oracle.check(list(reversed(pairs)), pairs) is None
    assert oracle.check(pairs[1:], pairs) is not None
    assert oracle.check(pairs + [pairs[0]], pairs) is not None


def test_drop_list_is_union_find_with_min_id_kept():
    pairs = [(5, 9, 0.9), (9, 12, 0.9), (2, 3, 0.95)]
    assert oracle.drop_list(pairs) == [(3, 2), (9, 5), (12, 5)]


def test_check_rejects_a_changed_keep_id():
    drop = oracle.drop_list([(5, 9, 0.9), (9, 12, 0.9), (2, 3, 0.95)])
    assert oracle.check(drop, drop) is None
    changed = [(d, 9 if d == 12 else k) for d, k in drop]
    assert oracle.check(changed, drop) is not None


def test_benchmark_json_lists_the_metrics_the_benchmark_prints():
    import json

    import run
    import workloads

    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        run.per_layer_units(workloads.LAYERS)
    )
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
