"""The top-level scripts (tools_*.py, bench.py) are not imported by
any other test, so a deleted or renamed package name would break them
silently. Parse each script — never run it — and check that every
name it imports from the package, and every attribute it reads off
an imported package module, still resolves."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_npl_pipeline_spark"
SCRIPTS = sorted(
    os.path.basename(p) for p in glob.glob(os.path.join(ROOT, "tools_*.py"))
) + ["bench.py"]


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_package_imports_resolve(script):
    with open(os.path.join(ROOT, script)) as fh:
        tree = ast.parse(fh.read(), script)
    missing = []
    modules = {}  # local alias -> imported package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None:
                    try:
                        obj = importlib.import_module(f"{node.module}.{a.name}")
                    except ImportError:
                        missing.append(f"{node.module}.{a.name}")
                        continue
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    assert not missing, f"{script}: unresolved package names {missing}"


def _naming_the_checkout(paths):
    hits = []
    for path in sorted(paths):
        with open(path) as fh:
            if ROOT in fh.read():
                hits.append(os.path.relpath(path, ROOT))
    return hits


def test_package_never_spells_out_the_checkout_path():
    """Scratch paths resolve from the package location
    (``session.scratch_dir``): a module that spelled out the
    checkout's absolute path would make a copy of the repo elsewhere
    write into this checkout."""
    pattern = os.path.join(ROOT, PKG, "**", "*.py")
    hits = _naming_the_checkout(glob.glob(pattern, recursive=True))
    assert not hits, f"checkout path hard-coded in {hits}"


def test_scripts_never_spell_out_the_checkout_path():
    """The top-level scripts and the tests resolve their ``.tmp``
    inputs and outputs from their own location, like the package: a
    copy of the repo elsewhere must not read, write or import this
    checkout."""
    tests = glob.glob(os.path.join(ROOT, "tests", "*.py"))
    hits = _naming_the_checkout(
        [os.path.join(ROOT, s) for s in SCRIPTS] + tests
    )
    assert not hits, f"checkout path hard-coded in {hits}"


def test_every_script_has_a_caller():
    """A tool nobody runs rots silently: each ``tools_*.py`` must be
    named by the README (its recipe), ``bench.py`` or a test."""
    callers = [os.path.join(ROOT, "README.md"), os.path.join(ROOT, "bench.py")]
    callers += glob.glob(os.path.join(ROOT, "tests", "*.py"))
    text = ""
    for path in callers:
        with open(path) as fh:
            text += fh.read()
    orphans = [s for s in SCRIPTS if s != "bench.py" and s[:-3] not in text]
    assert not orphans, f"scripts named nowhere: {orphans}"


def test_package_builds_no_cwd_relative_scratch_path():
    """Scratch paths come from ``session.scratch_dir``: a module that
    builds ``os.path.join(".tmp", ...)`` or a ``".tmp/..."`` literal
    writes into whatever directory the process runs from. A ``.tmp``
    file-name suffix (``MANIFEST + ".tmp"``) is not a path root."""
    hits = []
    pattern = os.path.join(ROOT, PKG, "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        rel = os.path.relpath(path, ROOT)
        if rel == os.path.join(PKG, "session.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == ".tmp"
            ) or (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith(".tmp/")
            ):
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, f"cwd-relative scratch path built at {hits}"
