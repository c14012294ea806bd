"""Engine reachability guard: every engine module must be imported,
directly or transitively, from a production entry point — the driver
contract and plan registry, the migrate/daily-update pipeline, the
streaming package, the session factory, or a bench/tool script. A module
that only tests reach grows the engine without serving any job, so it
fails here unless it is listed, with its reason, in UNREACHED_BY_DESIGN.

The walk is static (AST ``import`` / ``from ... import`` statements,
function-local imports included), so it needs no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "airflow_pipelines_from_mongo_to_postgres_spark"

#: Engine modules no entry point imports, each kept on purpose.
UNREACHED_BY_DESIGN = {
    # the real Mongo/JDBC source: production ingest goes through it, but
    # it needs the Mongo Spark connector jar, which the tests run without
    "sources.connectors",
    # the streaming form of q50: runs the same curated_fingerprint_agg
    # plan over a stream, not a second implementation of the job
    "streaming.curation",
    # Spark Python DataSource bindings (snaptable/snapfeed) for SQL
    # ``USING snaptable`` and outside tooling; engine plans use the
    # native snapshot readers. Its tests pin it against those readers
    "sources.pyds",
    # BPE merge-rule training/encoding as a library call; q104 computes
    # the per-round pair statistics without it
    "operators.tokenizer",
}


def _entry_files(repo: Path, pkg_dir: Path) -> list[Path]:
    return [
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *sorted((repo / "perfbench").glob("*.py")),
        *sorted((repo / "tools").glob("*.py")),
        pkg_dir / "plans" / "__init__.py",
        pkg_dir / "plans" / "pipeline.py",
        pkg_dir / "streaming" / "__init__.py",
        pkg_dir / "session.py",
    ]


def _engine_modules(pkg_dir: Path) -> dict[str, Path]:
    """Dotted module name (``operators.merge``; packages by their own
    name, the root package as ``""``) -> source file."""
    out = {}
    for f in pkg_dir.rglob("*.py"):
        parts = f.relative_to(pkg_dir).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = f
    return out


def _imported(f: Path) -> set[str]:
    """Engine-relative names (``""`` = the package root) of everything a
    file imports, including ``from pkg import submodule`` candidates. The
    engine uses absolute imports only."""
    names = set()
    for node in ast.walk(ast.parse(f.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            if t == PKG or t.startswith(PKG + "."):
                names.add(t[len(PKG) + 1:])
    return names


def unreached_modules(repo: Path = REPO) -> set[str]:
    pkg_dir = repo / PKG
    modules = _engine_modules(pkg_dir)
    name_of = {f: name for name, f in modules.items()}
    reached: set[str] = set()
    stack = []
    for f in _entry_files(repo, pkg_dir):
        if f in name_of:
            stack.append(name_of[f])
        else:
            stack.extend(_imported(f))
    while stack:
        name = stack.pop()
        if name not in modules or name in reached:
            continue
        reached.add(name)
        # importing a.b.c runs the a and a.b package __init__s first
        parts = name.split(".")
        stack.extend(".".join(parts[:i]) for i in range(len(parts)))
        stack.extend(_imported(modules[name]))
    return set(modules) - reached


def test_only_documented_engine_modules_are_unreached():
    unreached = unreached_modules()
    assert unreached == UNREACHED_BY_DESIGN, (
        f"engine modules no entry point imports: "
        f"{sorted(unreached - UNREACHED_BY_DESIGN)}; "
        f"listed as unreached but now imported (drop them from the list): "
        f"{sorted(UNREACHED_BY_DESIGN - unreached)}")
