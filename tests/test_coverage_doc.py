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

No Spark session needed: pure text vs the imported registry."""

from __future__ import annotations

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
