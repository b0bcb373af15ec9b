"""Driver-contract invariants for __spark_entry__ (no Spark needed).

The driver compares queries() against oracle_sql() by key; a query
without an oracle silently downgrades to a rows-only check, and an
oracle without a query is dead weight — both are contract drift this
guards against. Every oracle must also at least PLAN in DuckDB against
the real sf0.001 views (full value execution is tools/check_oracle.py's
job; planning catches SQL syntax/binding rot in seconds)."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_queries_and_oracles_key_parity():
    qs = entry.queries()
    osql = entry.oracle_sql()
    assert set(qs) == set(osql), (
        "queries() and oracle_sql() must cover the same keys; "
        f"only-query={sorted(set(qs) - set(osql))} "
        f"only-oracle={sorted(set(osql) - set(qs))}"
    )
    assert all(callable(v) for v in qs.values())
    assert all(isinstance(v, str) and v.strip() for v in osql.values())


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_oracle_sql_plans_in_duckdb(name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    con.execute(f"EXPLAIN {entry.oracle_sql()[name]}")


PKG = "genome_deduplication_spark"


def _module_files(root):
    """Dotted name -> source path for every module of the package."""
    out = {}
    for path in (root / PKG).rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _named_modules(path, name, modules):
    """Package modules the source of module ``name`` at ``path`` names:
    every import or from-import anywhere in it (lazy ones in functions,
    relative ones too), and every string literal spelling a module's
    dotted name."""
    is_pkg = path.name == "__init__.py"
    here = (name if is_pkg else name.rpartition(".")[0]).split(".")
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # `from ..x import y`: up level-1 packages
                pkg = here[: len(here) - node.level + 1]
                base = ".".join(pkg + [base] if base else pkg)
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and node.value in modules:
            yield node.value


def test_every_package_module_is_reachable_from_a_contract_path():
    """Every package module must be reachable by import from the driver
    contract, the benchmarks or the tools; code only tests reach is a
    second copy nothing runs. Importing a module imports its parent
    packages, so a package counts as reached with any submodule."""
    root = Path(entry.__file__).resolve().parent
    modules = _module_files(root)
    roots = [root / "__spark_entry__.py", root / "bench.py", root / "bench_extra.py"]
    roots += sorted((root / "perfbench").glob("*.py"))
    roots += sorted((root / "tools").glob("*.py"))

    reached, todo = set(), [(p, "") for p in roots]
    while todo:
        for dotted in _named_modules(*todo.pop(), modules):
            parts = dotted.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append((modules[mod], mod))
    unreached = {m[len(PKG) + 1 :] for m in set(modules) - reached}
    # sources.pages_source is the paper's input path (pages read from an
    # Iceberg/Parquet table); no contract path reads pages that way yet,
    # and it stays by an explicit decision (ROADMAP D11).
    assert unreached == {"sources.pages_source"}
