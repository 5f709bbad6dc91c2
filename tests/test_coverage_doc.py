"""Doc-consistency pin: COVERAGE.md and the query registry must not drift
(VERDICT r3 item 8 — the builder's own near-miss was three drafted ops that
duplicated existing registry entries; ``register()`` now raises on duplicate
NAMES, but nothing mechanical caught a doc row pointing at a renamed or
deleted query, or a new §2-grain query the doc forgot).

Two directions:
  * every backticked name in COVERAGE.md's "Registry query" table column (and
    any backticked ``flow_*``/§2-id-shaped token anywhere in the doc) must be
    a real ``queries()`` entry;
  * every registry query whose name is §2-id-prefixed (``j10_...``,
    ``a5_...``, ``w1_...``) or a flow (``flow_*``) must be named somewhere in
    COVERAGE.md — these are the doc's raison d'être rows.

No Spark session needed: pure text vs the imported registry. The last check
(docs name only real code) is text + AST."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from ortholog_pipeline_spark.queries import queries

COVERAGE = Path(__file__).resolve().parent.parent / "COVERAGE.md"

#: §2-id-prefixed or flow registry names — the grain COVERAGE.md documents.
_SECTION2_SHAPE = re.compile(r"^(?:[a-z]{1,2}\d+(?:_\w+)?|flow_\w+)$")


def _doc_text() -> str:
    return COVERAGE.read_text()


def _backticked(text: str) -> set[str]:
    return set(re.findall(r"`([^`]+)`", text))


def test_every_documented_registry_query_exists():
    """A backticked token shaped like a registry name must resolve in
    queries() — a stale doc row (renamed/deleted query) fails here."""
    registry = set(queries())
    # tokens that LOOK like §2/flow query names; file paths, dotted function
    # refs, and prose snippets never match the shape
    candidates = {
        t for t in _backticked(_doc_text()) if _SECTION2_SHAPE.match(t)
    }
    assert candidates, "COVERAGE.md lost its registry-query references"
    missing = sorted(candidates - registry)
    assert not missing, f"COVERAGE.md names unknown registry queries: {missing}"


def test_every_flow_and_section2_query_is_documented():
    """The reverse direction: a new flow_* or §2-id-prefixed query that never
    made it into COVERAGE.md fails here (doc drift the other way)."""
    text = _doc_text()
    undocumented = sorted(
        n for n in queries() if _SECTION2_SHAPE.match(n) and n not in text
    )
    assert not undocumented, (
        f"registry queries missing from COVERAGE.md: {undocumented}"
    )


def test_registry_and_oracles_stay_paired():
    """Every queries() entry has an oracle_sql() entry and no oracle key
    dangles: there are no rows-only entries."""
    from ortholog_pipeline_spark.queries import oracle_sql

    q, o = set(queries()), set(oracle_sql())
    assert not q - o, f"queries() entries without an oracle: {sorted(q - o)}"
    assert not o - q, f"oracle_sql() keys without queries(): {sorted(o - q)}"


# ---------------------------------------------------------------------------
# The docs name only real code: backticked paths resolve, dotted refs name a
# top-level def of that module. Pure text + AST (no import, no Spark).
# ---------------------------------------------------------------------------

REPO = COVERAGE.parent
PACKAGE = REPO / "ortholog_pipeline_spark"
DOCS = (COVERAGE, REPO / "README.md")

#: ``dir/``, ``path/mod``, ``path/mod.py`` or ``path/mod.def[.member][/def2]``
_PATH_REF = re.compile(
    r"^(?:ortholog_pipeline_spark/)?(?P<path>(?:[a-z_]\w*/)*[a-z_]\w*)"
    r"(?P<suffix>\.py|/)?(?:\.(?P<names>[A-Za-z_]\w*(?:[./][A-Za-z_]\w*)*))?$"
)
#: ``mod.def`` / ``pkg.mod.def[.member]`` with no path separator
_DOTTED_REF = re.compile(r"^[a-z_]\w*(?:\.[A-Za-z_]\w*)+$")


def _modules() -> dict[str, Path]:
    """Dotted package-relative module name -> file (``operators.sync`` ...)."""
    return {
        ".".join(p.relative_to(PACKAGE).with_suffix("").parts): p
        for p in PACKAGE.rglob("*.py")
        if p.name != "__init__.py"
    }


def _defines(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, ast.Assign):
        return {t.id for t in stmt.targets if isinstance(t, ast.Name)}
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return {stmt.target.id}
    name = getattr(stmt, "name", None)
    return {name} if name else set()


def _names_resolve(module: Path, names: str) -> bool:
    """Every ``/``-separated alternative in ``names`` is a top-level def (or
    assigned name) of ``module``; a ``.member`` tail must be defined in the
    class body of its head."""
    tree = ast.parse(module.read_text())
    for alt in names.split("/"):
        scope = tree.body
        for name in alt.split("."):
            node = next((n for n in scope if name in _defines(n)), None)
            if node is None:
                return False
            scope = getattr(node, "body", [])
    return True


def _unresolved(token: str, modules: dict[str, Path]) -> str | None:
    """Why ``token`` names no real code, or None if it does (or is not a code
    reference at all: prose, env vars, other repos' names)."""
    m = _PATH_REF.match(token)
    if m and ("/" in token or token.endswith(".py")):
        path, suffix, names = m["path"], m["suffix"], m["names"]
        bases = (PACKAGE, REPO)
        if suffix == "/":
            return None if any((b / path).is_dir() for b in bases) else "no such directory"
        files = [b / f"{path}.py" for b in bases if (b / f"{path}.py").is_file()]
        if not files:
            if suffix is None and names is None and any((b / path).is_dir() for b in bases):
                return None
            return "no such file"
        if names and not any(_names_resolve(f, names) for f in files):
            return f"no top-level {names!r} in {path}.py"
        return None
    if _DOTTED_REF.match(token) and not token.endswith(".py"):
        parts = token.split(".")
        for k in range(len(parts) - 1, 0, -1):
            prefix = ".".join(parts[:k])
            hits = [p for name, p in modules.items()
                    if name == prefix or name.endswith("." + prefix)]
            if hits:
                rest = ".".join(parts[k:])
                if any(_names_resolve(p, rest) for p in hits):
                    return None
                return f"no top-level {rest!r} in module {prefix!r}"
        if (PACKAGE / parts[0]).is_dir():
            return "no such module"
    return None


def test_docs_name_only_real_code():
    modules = _modules()
    bad = [
        f"{doc.name}: `{t}` ({why})"
        for doc in DOCS
        for t in sorted(_backticked(doc.read_text()))
        if (why := _unresolved(t, modules))
    ]
    assert not bad, "docs name code that does not exist:\n" + "\n".join(bad)


def test_doc_ref_checker_flags_dead_paths_and_defs():
    modules = _modules()
    for ok in ("operators/sync.sync_full_outer", "sources/state.StateStore.read",
               "operators/sketches.cm_sketch/cm_estimate", "streaming/",
               "functions/pii", "queries_flows.py", "tools/make_scaled_dir.py",
               "grouping.complement_closure", "F.session_window", "SURVEY.md"):
        assert _unresolved(ok, modules) is None, ok
    for dead in ("plans/driver.py", "operators/sync.no_such_def", "sources/gone",
                 "nowhere/", "sources/state.StateStore.no_such_method",
                 "grouping.no_such_def", "streaming.gone.fn"):
        assert _unresolved(dead, modules) is not None, dead
