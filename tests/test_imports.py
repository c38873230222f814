"""Every import of a package module, at any depth, names a module and
attribute that exist. Function-local imports (the registry's lazy
per-entry imports, bench.py's and tools/scaling_bench.py's per-arm
imports) only execute when their arm runs, so a deleted module or
renamed function would otherwise surface minutes into a long run — or
never in the test suite, which does not run scaling_bench."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "search_engines_spark"
FILES = sorted([*(ROOT / PKG).rglob("*.py"), ROOT / "bench.py",
                *(ROOT / "tools").glob("*.py")])


def _package_imports(path: Path) -> list[tuple[int, str, list[str]]]:
    """→ [(line, module, imported names)] for every import of a `PKG`
    module in `path`, relative imports resolved against its package."""
    # a module's package, and an __init__'s own package, are both the
    # path minus its last part
    pkg = path.relative_to(ROOT).with_suffix("").parts[:-1]
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, []) for a in node.names
                    if a.name.split(".")[0] == PKG]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = list(pkg[:len(pkg) - node.level + 1])
                name = ".".join(base + ([node.module] if node.module else []))
            else:
                name = node.module
            if name.split(".")[0] == PKG:
                out.append((node.lineno, name, [a.name for a in node.names]))
    return out


def test_package_imports_resolve():
    # every scanned root contributes: a glob that matched nothing would
    # pass the check below vacuously
    for root in (ROOT / PKG, ROOT / "bench.py", ROOT / "tools"):
        assert any(f == root or root in f.parents for f in FILES), root
    missing = []
    for path in FILES:
        where = path.relative_to(ROOT)
        for line, name, attrs in _package_imports(path):
            if importlib.util.find_spec(name) is None:
                missing.append(f"{where}:{line} {name}")
                continue
            mod = importlib.import_module(name)
            # `from pkg import sub` may name a not-yet-imported submodule
            missing += [f"{where}:{line} {name}.{a}" for a in attrs
                        if a != "*" and not hasattr(mod, a)
                        and not (hasattr(mod, "__path__") and
                                 importlib.util.find_spec(f"{name}.{a}"))]
    assert not missing, "imports of missing names:\n" + "\n".join(missing)
