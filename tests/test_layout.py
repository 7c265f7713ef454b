"""Package layout: every module of ``ocr_text_recognition_spark`` is reached
by an import from the product path (the job, the driver contract, the
oracles and the benchmark runner), so code that nothing ships cannot regrow
behind its own tests.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_text_recognition_spark"
PRODUCT_ROOTS = [
    "jobs/extract.py",
    "__spark_entry__.py",
    f"{PKG}/oracles.py",
    *sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))),
]


def _package_modules() -> dict[str, str]:
    """{dotted module name: file path} of every module under the package;
    a package's ``__init__.py`` is the package's own module."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported(path: str, module: str | None, mods: dict[str, str]) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body (function
    bodies included), relative imports resolved against ``module``; every
    module brings its parent packages with it."""
    is_pkg = path.endswith("__init__.py")
    names: set[str] = set()
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = (module or "").split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            # ``from a import b`` imports a, and a.b too when b is a module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for name in names:
        parts = name.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & set(mods)


def test_every_module_has_a_product_importer():
    mods = _package_modules()
    paths = {path: name for name, path in mods.items()}
    todo = [(path, paths.get(path)) for path in (os.path.join(REPO, r) for r in PRODUCT_ROOTS)]
    seen = {module for _, module in todo if module}
    while todo:
        path, module = todo.pop()
        for name in _imported(path, module, mods) - seen:
            seen.add(name)
            todo.append((mods[name], name))
    unreached = sorted(set(mods) - seen)
    assert not unreached, f"modules no product path imports: {unreached}"
