"""Expected outputs and the output checks.

* ``similar_pairs``: the registry's DuckDB oracle twin, run over the
  generated parquet.  It is computed once per corpus and cached on disk,
  keyed by the parquet's digest, so a repeated seed skips it.
* drop list: a Python union-find over that oracle's pair list — every
  component keeps its minimum id.  The registry's recursive-CTE drop-list
  oracle is not used: on clustered corpora its transitive closure is
  quadratic per cluster and does not fit on a small disk.
* cross-corpus pairs: computed by the engine's batch operator
  (``similarity.cross_corpus_pairs``) in the benchmark process and cached
  the same way.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path


def digest(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cached(cache_dir: Path, key: str, compute) -> list[tuple]:
    """``compute()`` once per key; rows are stored as JSON lists."""
    path = cache_dir / f"{key}.json"
    if path.exists():
        return [tuple(r) for r in json.loads(path.read_text())]
    rows = sorted(tuple(r) for r in compute())
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text(json.dumps(rows))
    tmp.replace(path)
    return rows


def duckdb_similar_pairs(table_dir: Path) -> list[tuple]:
    """(doc_id_a, doc_id_b, jaccard) from the registry's DuckDB twin of
    the flagship ``similar_pairs`` query."""
    import duckdb

    from mapreduce_minhash_lsh_spark import registry

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"SET temp_directory = '{table_dir.parent / 'duckdb'}'")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{table_dir / 'documents.parquet'}')"
        )
        return con.execute(registry.oracle_sql()["similar_pairs"]).fetchall()
    finally:
        con.close()


def drop_list(pairs: list[tuple]) -> list[tuple]:
    """(drop_id, keep_id) for every document of a near-dup component other
    than its minimum id, which is kept."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent if find(x) != x)


def check(got: list[tuple], expected: list[tuple]) -> str | None:
    """None when ``got`` equals ``expected`` as a set of rows (and has no
    duplicate rows); otherwise a one-line description of the difference."""
    got_set = set(got)
    if len(got_set) != len(got):
        return f"{len(got) - len(got_set)} duplicate rows"
    exp_set = set(expected)
    missing, extra = exp_set - got_set, got_set - exp_set
    if missing or extra:
        return (
            f"{len(missing)} rows missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]})"
        )
    return None
