"""Ratchet on raw materialization barriers: every ``localCheckpoint`` /
``checkpoint`` call in the package outside ``similarity._materialize``
skips its statistics reset, so new code must route through the helper
and the remaining raw sites may only go down."""

from __future__ import annotations

import ast
import pathlib

import mapreduce_minhash_lsh_spark

# The raw sites left: sampling.py x1, bpe.py x2, lm.py x2,
# sources/tables.py x3.
MAX_RAW_BARRIERS = 8


def _raw_barrier_sites() -> list[str]:
    root = pathlib.Path(mapreduce_minhash_lsh_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if (
                path.name == "similarity.py"
                and isinstance(node, ast.FunctionDef)
                and node.name == "_materialize"
            ):
                allowed.update(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
                and node.lineno not in allowed
            ):
                sites.append(f"{path.relative_to(root)}:{node.lineno}")
    return sites


def test_raw_barriers_do_not_grow():
    sites = _raw_barrier_sites()
    assert len(sites) <= MAX_RAW_BARRIERS, sites
