"""Every package module, top-level def and public method is reachable from
something the system runs. A def that only tests call is surface nobody maintains against a
real caller, so it goes (with its tests) rather than waiting to be wired.

Roots are the runnable entries: the CLI (``__main__``), the registry
(``queries/*`` and ``queries_flows``, whose ``@register`` functions are roots
themselves), the ``oracle`` CLI, ``__spark_entry__.py``, ``bench.py``,
``tools/*.py`` and the non-test ``perfbench/*.py``. Liveness is the fixpoint
of names used in live scopes (a root's module-level code, a live def's body,
the module-level code of a module a live scope imports): a def is used when a
live scope names it as a Name, an Attribute, an import alias or an
identifier string constant. A public method (no leading underscore) of a
live class is live when a live scope names it; the rest of a live class
(bases, decorators, private and dunder methods) is live with it. An
``__init__`` re-export is not a use, so ``__init__`` files are never scopes.
Pure AST, no Spark."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "ortholog_pipeline_spark"
# test reference twins: the plain-Python spec the Spark/Arrow paths are
# checked against (tests/test_operators.py), kept on purpose
TEST_TWINS = {"hashed_shingles31", "token_hashes31"}
# operator entry points no code names: `begin_run`'s error message tells an
# operator to call StateStore.repair on a store a dead writer left pending
KEEP_METHODS = {"StateStore.repair"}
REGISTRY_DECORATOR = "register"


def _root_files(repo: pathlib.Path) -> list[pathlib.Path]:
    pkg = repo / PACKAGE
    roots = [
        pkg / "__main__.py",
        pkg / "oracle.py",
        pkg / "queries_flows.py",
        *sorted((pkg / "queries").glob("*.py")),
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *sorted((repo / "tools").glob("*.py")),
        *sorted((repo / "perfbench").glob("*.py")),
    ]
    return [p for p in roots if p.exists() and p.name != "__init__.py"]


def _module_name(repo: pathlib.Path, path: pathlib.Path) -> str:
    return ".".join(path.relative_to(repo).with_suffix("").parts)


def _is_registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == REGISTRY_DECORATOR:
            return True
    return False


def _is_public_method(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_")


def _scope(node: ast.AST) -> list[ast.AST]:
    """What a live def contributes: a class without its public methods."""
    if not isinstance(node, ast.ClassDef):
        return [node]
    return [
        *node.decorator_list, *node.bases, *node.keywords,
        *(s for s in node.body if not _is_public_method(s)),
    ]


def _refs(scope: list[ast.AST]) -> tuple[set[str], set[str]]:
    """(names used, dotted modules imported) by the statements in ``scope``."""
    names: set[str] = set()
    modules: set[str] = set()
    for stmt in scope:
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
                names.add(n.value)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    modules.add(a.name)
                    names.update(a.name.split("."))
            elif isinstance(n, ast.ImportFrom) and n.module:
                modules.add(n.module)
                for a in n.names:
                    modules.add(f"{n.module}.{a.name}")
                    names.add(a.name)
    return names, modules


def unreachable(
    repo: pathlib.Path, keep_methods: set[str] = KEEP_METHODS
) -> tuple[list[str], list[str]]:
    """(package modules no live scope imports, top-level defs and public
    methods of live classes no live scope names), as repo-relative ``path`` /
    ``path:def`` / ``path:Class.method`` strings."""
    package = sorted(p for p in (repo / PACKAGE).rglob("*.py") if p.name != "__init__.py")
    roots = _root_files(repo)
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in {*package, *roots}}
    by_module = {_module_name(repo, p): p for p in trees}

    # defs in root files are tracked too (a script's ``main`` is live only
    # through its ``__main__`` block) but only package defs are reported
    defs: dict[tuple[pathlib.Path, str], ast.AST] = {}
    # (path, "Class.method") -> (method node, key of its class)
    methods: dict[tuple[pathlib.Path, str], tuple[ast.AST, tuple[pathlib.Path, str]]] = {}
    for p in trees:
        for node in trees[p].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(p, node.name)] = node
            if isinstance(node, ast.ClassDef):
                for m in filter(_is_public_method, node.body):
                    methods[(p, f"{node.name}.{m.name}")] = (m, (p, node.name))

    def module_scope(p: pathlib.Path) -> list[ast.AST]:
        return [
            s for s in trees[p].body
            if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            or _is_registered(s)
        ]

    live_modules: set[pathlib.Path] = set()
    pending: list[ast.AST] = []

    def enter(p: pathlib.Path) -> None:
        if p not in live_modules:
            live_modules.add(p)
            pending.extend(module_scope(p))

    live_defs = {k for k, node in defs.items() if _is_registered(node)}
    for p in {*roots, *(p for p, _ in live_defs)}:
        enter(p)
    used: set[str] = set()
    while pending:
        names, modules = _refs(pending)
        pending.clear()
        used |= names
        for m in modules & by_module.keys():
            enter(by_module[m])
        for key, node in defs.items():
            if key not in live_defs and key[1] in used:
                live_defs.add(key)
                pending.extend(_scope(node))
                enter(key[0])
        for key, (node, owner) in methods.items():
            if key not in live_defs and owner in live_defs and node.name in used:
                live_defs.add(key)
                pending.append(node)

    dead_modules = [str(p.relative_to(repo)) for p in package if p not in live_modules]
    dead_defs = [
        f"{p.relative_to(repo)}:{name}" for (p, name) in sorted(defs)
        if p in package and (p, name) not in live_defs and name not in TEST_TWINS
    ] + [
        f"{p.relative_to(repo)}:{name}" for (p, name), (_, owner) in sorted(methods.items())
        if p in package and owner in live_defs and (p, name) not in live_defs
        and name not in keep_methods
    ]
    return dead_modules, dead_defs


def test_every_package_module_and_def_is_reachable_from_an_entry_point():
    dead_modules, dead_defs = unreachable(REPO)
    assert dead_modules == [], f"package modules no entry point imports: {dead_modules}"
    assert dead_defs == [], f"top-level defs no entry point reaches: {dead_defs}"


def test_twin_allow_list_names_live_test_twins():
    src = (REPO / PACKAGE / "operators" / "dedup.py").read_text()
    top = {n.name for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)}
    assert TEST_TWINS <= top


def test_lint_flags_dead_reexported_and_dead_only_defs_but_not_registry_ones(tmp_path):
    pkg = tmp_path / PACKAGE
    (pkg / "queries").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "queries" / "__init__.py").write_text("")
    (pkg / "__main__.py").write_text(
        f"from {PACKAGE}.ops import used\n"
        "if __name__ == '__main__':\n"
        "    used()\n"
    )
    (pkg / "ops.py").write_text(
        "def used():\n    return _helper()\n\n"
        "def _helper():\n    return 1\n\n"
        "def dead():\n    return only_dead_calls_me()\n\n"
        "def only_dead_calls_me():\n    return 2\n\n"
        "def reexported():\n    return 3\n"
    )
    (pkg / "ops_init").mkdir()
    (pkg / "ops_init" / "__init__.py").write_text(
        f"from {PACKAGE}.ops import reexported\n__all__ = ['reexported']\n"
    )
    # a registry function is a root wherever it lives, and so is what it calls
    (pkg / "registered.py").write_text(
        "from x import register\n\n"
        "@register('q_one')\n"
        "def q_one(spark, d):\n    return _body()\n\n"
        "def _body():\n    return 4\n"
    )
    (pkg / "orphan.py").write_text("X = 1\n")

    dead_modules, dead_defs = unreachable(tmp_path)
    assert dead_modules == [f"{PACKAGE}/orphan.py"]
    assert dead_defs == [
        f"{PACKAGE}/ops.py:dead",
        f"{PACKAGE}/ops.py:only_dead_calls_me",
        f"{PACKAGE}/ops.py:reexported",
    ]


def test_lint_flags_public_methods_no_live_scope_names(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "__main__.py").write_text(
        f"from {PACKAGE}.store import Store\n"
        "if __name__ == '__main__':\n"
        "    Store().used()\n"
    )
    (pkg / "store.py").write_text(
        "class Store:\n"
        "    def __init__(self):\n        self._x = 1\n\n"
        "    def used(self):\n        return self._helper()\n\n"
        "    def _helper(self):\n        return 2\n\n"
        "    def dead(self):\n        return self.only_dead_calls_me()\n\n"
        "    def only_dead_calls_me(self):\n        return 3\n\n"
        "class Unused:\n"
        "    def used(self):\n        return 4\n"
    )
    _, dead_defs = unreachable(tmp_path)
    # a dead class is reported once, not per method
    assert dead_defs == [
        f"{PACKAGE}/store.py:Unused",
        f"{PACKAGE}/store.py:Store.dead",
        f"{PACKAGE}/store.py:Store.only_dead_calls_me",
    ]


def test_keep_methods_name_live_classes_no_scope_names():
    """Each kept method exists, and is kept only because nothing names it."""
    _, dead_defs = unreachable(REPO, keep_methods=set())
    assert {d.split(":")[1] for d in dead_defs} == KEEP_METHODS
