"""Import-integrity guard (VERDICT r11 task 2).

Round 11 shipped a commit that clobbered a ``def`` line
(``queries/llm_dedup.py::components_writer``): the symbol vanished, the
registry sweeps stayed green (nothing in the registry calls it), and the
breakage surfaced only inside one streaming test's body — i.e. after a
23-minute full-suite run. This guard is the judge's AST sweep as a
<1 s test with NO Spark session: walk every ``from gmall_flink_spark...
import X`` (and ``import gmall_flink_spark.Y``) in ``tests/``,
``scripts/``, ``perfbench/`` and the repo-root entry points, import the
module, and assert every ``X`` resolves. A clobbered def — or a renamed
internal a probe or the benchmark still imports — now fails
collection-speed fast, not suite-speed slow.

Deliberately import-only: calling anything would need Spark. Function-
LOCAL imports are included (ast.walk, not just module top level) —
that's exactly where the r11 breakage hid.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "gmall_flink_spark"

# Repo-root entry points the driver imports directly.
EXTRA_FILES = [REPO / "__spark_entry__.py", REPO / "bench.py"]


def _referenced_symbols():
    """Yield (source_file, module_name, symbol_or_None) for every
    package import appearing ANYWHERE (incl. inside function bodies) in
    tests/, scripts/, perfbench/ + entry points. symbol None means a bare
    ``import module``."""
    files = [
        p
        for d in ("tests", "scripts", "perfbench")
        for p in sorted((REPO / d).glob("*.py"))
    ] + [p for p in EXTRA_FILES if p.exists()]
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                if node.module.split(".")[0] == PACKAGE:
                    for alias in node.names:
                        yield path, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == PACKAGE:
                        yield path, alias.name, None


def _resolve(module: str, symbol: str | None) -> str | None:
    """Return an error string if (module, symbol) does not resolve."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        # ``from pkg.mod import X`` where X is itself a submodule.
        if symbol is not None:
            try:
                importlib.import_module(f"{module}.{symbol}")
                return None
            except ImportError as exc:
                return f"module {module!r} not importable: {exc}"
        return f"module {module!r} not importable"
    if symbol is None or symbol == "*":
        return None
    if hasattr(mod, symbol):
        return None
    try:  # ``from pkg import submodule`` without an attr re-export
        importlib.import_module(f"{module}.{symbol}")
        return None
    except ImportError:
        return f"{module}.{symbol} does not resolve"


def test_every_package_symbol_referenced_by_tests_resolves():
    refs = list(_referenced_symbols())
    assert refs, "sweep found no package imports — the walker is broken"
    failures = []
    for path, module, symbol in refs:
        err = _resolve(module, symbol)
        if err:
            failures.append(f"{path.name}: {err}")
    assert not failures, "unresolvable package imports:\n" + "\n".join(
        sorted(set(failures))
    )


def test_guard_detects_a_missing_symbol():
    """The guard must FAIL on a deleted def (simulated): resolving a
    symbol that does not exist reports an error rather than passing
    silently — the r11 failure mode, pinned."""
    err = _resolve("gmall_flink_spark.queries.llm_dedup", "components_writer")
    assert err is None, f"restored symbol should resolve: {err}"
    err = _resolve(
        "gmall_flink_spark.queries.llm_dedup", "symbol_that_never_existed"
    )
    assert err is not None and "does not resolve" in err


def test_every_package_module_imports_clean():
    """Belt-and-braces: import every .py under the package (the judge's
    module-level sweep). Catches syntax errors and broken module-level
    imports even in modules no test references yet."""
    pkg_root = REPO / PACKAGE
    failures = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(REPO).with_suffix("")
        module = ".".join(rel.parts)
        if module.endswith(".__init__"):
            module = module[: -len(".__init__")]
        try:
            importlib.import_module(module)
        except Exception as exc:  # noqa: BLE001 — report any breakage
            failures.append(f"{module}: {type(exc).__name__}: {exc}")
    assert not failures, "broken package modules:\n" + "\n".join(failures)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
