"""String scalar functions (SURVEY.md §2.8).

Each mirrors a reference helper (cited per function) but is expressed as a Catalyst
column expression — no Python UDFs, so every one of these stays in whole-stage codegen
and vectorizes on 100 TB inputs exactly like a built-in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize_evidence_set(col: Column | str, sep: str = ", ") -> Column:
    """Canonicalize a packed set-of-strings column: split on ','-ish separators,
    trim, dedup, sort (ASCII / TreeSet natural order), re-join with ``", "``.

    Mirrors OrthologRelationParser.java:126-136 and the fixXrefDataSet normalizers
    (OrthologRelationDao.java:707-767). The reference splits on ``", "`` or ``","``;
    splitting on ',' then trimming covers both.
    """
    c = F.col(col) if isinstance(col, str) else col
    tokens = F.transform(F.split(c, ","), lambda t: F.trim(t))
    tokens = F.filter(tokens, lambda t: t != F.lit(""))
    return F.array_join(F.array_sort(F.array_distinct(tokens)), sep)


def sanitize_if_shorter(col: Column | str) -> Column:
    """The reference's fix-xref update rule: replace the packed set only when the
    sanitized form is *strictly shorter* (OrthologRelationDao.java:720-732)."""
    c = F.col(col) if isinstance(col, str) else col
    fixed = sanitize_evidence_set(c)
    return F.when(F.length(fixed) < F.length(c), fixed).otherwise(c)


def evidence_count(col: Column | str) -> Column:
    """Evidence-set cardinality = commas + 1, 0 for null/empty
    (OrthologRelationLoader.java:580-588; OrthologRelationDao.java:190-201)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull() | (F.length(c) == 0), F.lit(0)
    ).otherwise(F.size(F.split(c, ",")))


def pipe_set_sort(col: Column | str) -> Column:
    """Sort a '|'-packed set into canonical order (sortAlgorithmsStr,
    AgrTsvLoader.java:225-229). Keeps duplicates? No — the reference uses a TreeSet,
    so dedup + sort."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.array_distinct(F.split(c, "\\|"))), "|")


def rgd_curie_suffix(col: Column | str) -> Column:
    """Numeric suffix of an ``RGD:<n>`` curie (AgrTsvLoader.java:346)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: regexp_extract yields '' on no match, which ANSI cast rejects
    return F.regexp_extract(c, r"^RGD:(\d+)$", 1).try_cast("int")


def yes_no_to_yn(col: Column | str) -> Column:
    """'Yes'→'Y' else 'N' (AgrTsvLoader.java:175-176; Dao.java:827-828)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == "Yes", F.lit("Y")).otherwise(F.lit("N"))


#: Source-priority CASE used by duplicate cleanup and the in-DB comparator
#: (OrthologRelationDao.java:806-812, 881-890): RGD=4 > Alliance=3 > HGNC=2 > NCBI=1.
_SOURCE_PRIORITY = {"RGD": 4, "Alliance": 3, "AGR": 3, "HGNC": 2, "NCBI": 1}


def source_priority(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(0)
    for name, prio in _SOURCE_PRIORITY.items():
        expr = F.when(c == name, F.lit(prio)).otherwise(expr)
    return expr


#: Greek transliteration map (AgrTsvLoader.java:437-486). NOTE: the reference maps
#: codepoint 951 (eta, η) to "lambda" — an apparent upstream bug we mirror for
#: byte-compatibility (SURVEY.md §7 hard parts).
GREEK_MAP = {
    "Δ": "DELTA",  # Δ
    "α": "alpha",  # α
    "β": "beta",  # β
    "γ": "gamma",  # γ
    "δ": "delta",  # δ
    "ε": "epsilon",  # ε
    "ζ": "zeta",  # ζ
    "η": "lambda",  # η — reference bug preserved (AgrTsvLoader.java:461-462)
    "θ": "theta",  # θ
    "ι": "iota",  # ι
    "κ": "kappa",  # κ
    "λ": "lambda",  # λ
    "μ": "mu",  # μ
    "σ": "sigma",  # σ
}


def transliterate_greek(col: Column | str) -> Column:
    """Chained ``regexp_replace`` transliteration of Greek letters in gene symbols —
    stays in codegen instead of a Python UDF (SURVEY.md §2.10).

    Guarded by one character-class probe: CASE WHEN evaluates branches lazily
    per row, so the 14-regex chain only runs on symbols that actually contain
    a Greek letter (a rarity) — everything else pays a single rlike instead of
    14 regex passes."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for greek, latin in GREEK_MAP.items():
        out = F.regexp_replace(out, greek, latin)
    probe = "[" + "".join(GREEK_MAP) + "]"
    return F.when(c.rlike(probe), out).otherwise(c)


def strip_quotes(col: Column | str) -> Column:
    """Strip one layer of surrounding double quotes + whitespace
    (OrthoTool.java:119-124)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.trim(c), r'^"(.*)"$', "$1"))
