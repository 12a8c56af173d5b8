"""Every ``webpeel_spark`` module must be reached from something other
than a test: the driver entry point, the bench scripts, a tool or the
repo benchmark.  A module that only tests import is a port with no
batch caller; it either gets one or is deleted.

The walk is static (no imports run, no Spark).  From each root file it
follows ``import``/``from`` statements at any depth (function-level and
relative ones included) and any ``"webpeel_spark...."`` string constant,
such as the argument of ``importlib.import_module`` or a dotted path
kept as data.

The same idea one level down: a top-level function or class that no
file names is deleted too.
"""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "webpeel_spark"

ROOTS = (["__spark_entry__.py", "bench.py", "bench_extra.py"]
         + sorted(glob.glob("tools/*.py", root_dir=REPO))
         + sorted(glob.glob("perfbench/*.py", root_dir=REPO)))

# Reference implementations that a test compares a Spark operator
# against.  Only tests reach them, and that is their job.
ORACLES = {
    "webpeel_spark.pure.transcript_export":
        "tests/test_transcript_export.py::test_catalyst_twin_matches_pure",
    "webpeel_spark.pure.cross_verify":
        "tests/test_cross_verify_sitemap.py::test_consensus_results_matches_pure",
}


# Ports that only their own tests reach, recorded when this walk was
# added.  Each one still needs a batch caller or a deletion (with its
# tests); the list may only shrink, and nothing new may join it.
TEST_ONLY_PORTS = frozenset(f"{PKG}.{m}" for m in (
    "operators.applications", "operators.challenge",
    "operators.domain_intel", "operators.domain_memory",
    "operators.intent", "operators.safety", "operators.urlmap",
    "pure.application_tracker", "pure.challenge_detection",
    "pure.chunking", "pure.design_compare", "pure.documents",
    "pure.domain_intel", "pure.domain_memory", "pure.domain_verify",
    "pure.engine_ranker", "pure.hotel_search", "pure.paginate",
    "pure.safe_browsing", "pure.site_schemas", "pure.site_search",
    "pure.smart_router", "pure.table_format", "pure.transit_verdict",
    "pure.urlmap", "pure.watch",
))

# ExtractOptions fields that only their own reference-parity tests set,
# recorded when the options check was added.  Each one still needs a
# batch caller or a deletion (with its tests); the list may only
# shrink, and nothing new may join it.
TEST_ONLY_OPTIONS = frozenset((
    "readable", "caption_images", "selector", "exclude", "include_tags",
    "exclude_tags",
))


def _package_modules() -> dict:
    """Dotted name -> file path for every module under ``webpeel_spark/``."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel.pop()
        mods[".".join(rel)] = path
    return mods


def _resolve(name: str, mods: dict) -> set:
    """The modules that importing ``name`` loads: the longest prefix that
    is a module, and every package above it."""
    parts = name.strip(".").split(".")
    while parts and ".".join(parts) not in mods:
        parts.pop()
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imported_names(path: str, module: str) -> set:
    """Dotted names that the file at ``path`` (module ``module``)
    imports or names."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    is_pkg = path.endswith("__init__.py")
    package = module if is_pkg else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[:len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            # also covers importlib.import_module("webpeel_spark....")
            names.add(node.value)
    return {n for n in names if n == PKG or n.startswith(PKG + ".")}


def reached_modules() -> set:
    mods = _package_modules()
    seen = set()
    todo = [(os.path.join(REPO, r), "") for r in ROOTS]
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            for mod in _resolve(name, mods) - seen:
                seen.add(mod)
                todo.append((mods[mod], mod))
    return seen


def test_walk_reaches_the_core():
    reached = reached_modules()
    for mod in ("pure.pipeline", "operators.extract", "operators.dedup",
                "plans.checkpoint"):
        assert f"{PKG}.{mod}" in reached, mod


def test_no_module_is_reached_only_by_tests():
    unreached = sorted(set(_package_modules()) - reached_modules()
                       - set(ORACLES) - TEST_ONLY_PORTS)
    assert not unreached, (
        "modules no entry point, bench script, tool or perfbench file "
        "reaches (give each a caller or delete it):\n  "
        + "\n  ".join(unreached))


def test_oracles_are_compared_by_their_tests():
    reached = reached_modules()
    for mod, test in ORACLES.items():
        path, _, func = test.partition("::")
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            source = f.read()
        assert f"def {func}(" in source, test
        assert mod.rpartition(".")[2] in source, test
        assert mod not in reached, (
            f"{mod} has a non-test caller now; drop it from ORACLES")


def test_test_only_ports_list_is_current():
    """A listed port that was deleted or gained a caller leaves the list."""
    mods = set(_package_modules())
    reached = reached_modules()
    stale = sorted(m for m in TEST_ONLY_PORTS
                   if m not in mods or m in reached)
    assert not stale, ("drop from TEST_ONLY_PORTS (deleted or reached "
                       "now):\n  " + "\n  ".join(stale))


def test_every_golden_fixture_has_a_reader():
    """A file in ``tests/golden/`` that no test and no Python tool names
    outlived the code it pinned; delete it with that code.  The Node
    generators (``tools/*.mjs``) write fixtures and do not count."""
    sources = []
    for path in (glob.glob("tests/**/*.py", root_dir=REPO, recursive=True)
                 + glob.glob("tools/*.py", root_dir=REPO)):
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            sources.append(f.read())
    orphans = sorted(name for name in os.listdir(
                         os.path.join(REPO, "tests", "golden"))
                     if not any(name in src for src in sources))
    assert not orphans, ("golden fixtures no test or tool reads (delete "
                         "them):\n  " + "\n  ".join(orphans))


def test_every_top_level_name_has_a_user():
    """A top-level ``def`` or ``class`` in ``webpeel_spark/`` whose name
    occurs once in its own file (the definition) and in no other
    ``.py`` file of the repo is dead code; delete it.  Names are counted
    as whole words, so a dotted path or a string naming it counts as a
    use."""
    sources, words = {}, {}
    for path in glob.glob("**/*.py", root_dir=REPO, recursive=True):
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            sources[path] = f.read()
        words[path] = Counter(re.findall(r"\w+", sources[path]))
    files_with = Counter(w for counts in words.values() for w in counts)
    unused = []
    for path, source in sorted(sources.items()):
        if not path.startswith(PKG + os.sep):
            continue
        for node in ast.parse(source, path).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and words[path][node.name] == 1
                    and files_with[node.name] == 1):
                unused.append(f"{path}:{node.lineno} {node.name}")
    assert not unused, ("top-level names nothing uses (delete them):\n  "
                        + "\n  ".join(unused))


def _extract_options_fields() -> list:
    path = os.path.join(REPO, PKG, "pure", "pipeline.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "ExtractOptions")
    return [n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)]


def _options_set_outside_tests() -> set:
    """Keyword names passed to ``ExtractOptions(...)`` or to a
    ``._replace(...)`` call in any ``.py`` file outside ``tests/``."""
    names = set()
    for path in glob.glob("**/*.py", root_dir=REPO, recursive=True):
        if path.startswith("tests" + os.sep):
            continue
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            callee = (func.id if isinstance(func, ast.Name)
                      else func.attr if isinstance(func, ast.Attribute)
                      else None)
            if callee in ("ExtractOptions", "_replace"):
                names.update(k.arg for k in node.keywords if k.arg)
    return names


def test_every_extract_option_has_a_caller():
    """An ``ExtractOptions`` field that no entry point, bench script,
    tool or package module sets is a branch inside the extraction UDF
    that only tests take; delete it with its code path.  A listed
    field that gained a caller or was deleted leaves the list."""
    fields = _extract_options_fields()
    used = _options_set_outside_tests()
    unset = sorted(f for f in fields
                   if f not in used and f not in TEST_ONLY_OPTIONS)
    assert not unset, ("ExtractOptions fields no non-test file sets "
                       "(give each a caller or delete it):\n  "
                       + "\n  ".join(unset))
    stale = sorted(f for f in TEST_ONLY_OPTIONS
                   if f not in fields or f in used)
    assert not stale, ("drop from TEST_ONLY_OPTIONS (deleted or set "
                       "now):\n  " + "\n  ".join(stale))
