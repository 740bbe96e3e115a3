"""No library surface that only tests reach: every module of the package
must be imported, directly or through other package modules, by an entry
point — ``__spark_entry__.py``, ``bench.py``, ``scripts/*.py`` or the
``perfbench/`` harness. Tests do not count. If this fails, delete the
module, or allowlist it in ``ALLOWED`` with the reason it stays.

Static walk (stdlib ``ast``): function-local imports count, relative
imports are resolved, and ``from <package> import name`` follows only to
the submodule the package's ``__init__`` takes ``name`` from — a
re-export does not make the package's other submodules reached."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "compress_otel_collector_spark"
ALLOWED = {
    f"{PKG}.plans.http_transport": (
        "the reference's exporter → receiver HTTP hop (SURVEY O24/O25) and "
        "the one non-test caller of codec.decode; kept as reference code"),
}


def _path(mod):
    p = ROOT.joinpath(*mod.split("."))
    for f in (p / "__init__.py", p.with_suffix(".py")):
        if f.is_file():
            return f
    return None


def _imports(path, mod):
    """(module, imported names) for every import statement in ``path``."""
    pkg = mod.split(".")[:None if path.name == "__init__.py" else -1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from ((a.name, ()) for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(pkg[:len(pkg) + 1 - node.level]
                                + ([base] if base else []))
            yield base, [a.name for a in node.names]


def _resolve(base, name):
    """The module that ``from base import name`` reaches."""
    if _path(f"{base}.{name}"):
        return f"{base}.{name}"
    init = _path(base)
    if init is not None and init.name == "__init__.py":
        for mod, names in _imports(init, base):
            if name in names:
                return _resolve(mod, name)
    return base


def _reached():
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             *sorted((ROOT / "scripts").glob("*.py")),
             *sorted(p for p in (ROOT / "perfbench").glob("*.py")
                     if not p.name.startswith("test_"))]
    todo = [(p, ".".join(p.relative_to(ROOT).with_suffix("").parts))
            for p in roots]
    seen = set()
    while todo:
        for base, names in _imports(*todo.pop()):
            for mod in [_resolve(base, n) for n in names] or [base]:
                path = _path(mod)
                if (mod.startswith(f"{PKG}.") and mod not in seen
                        and path is not None and path.name != "__init__.py"):
                    seen.add(mod)
                    todo.append((path, mod))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {".".join(p.relative_to(ROOT).with_suffix("").parts)
               for p in (ROOT / PKG).rglob("*.py")
               if p.name != "__init__.py"}
    unreached = sorted(modules - _reached() - set(ALLOWED))
    assert unreached == [], (
        f"{unreached} are imported by no entry point — delete them, or "
        "allowlist them in tests/test_package_reach.py with a reason")
    assert set(ALLOWED) <= modules, "allowlisted module no longer exists"
