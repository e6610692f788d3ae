"""Rendered-type classes for the oracle type lint (VERDICT r14 #2).

The driver's value-hash renders both engines' results through
pandas/Arrow, so a column whose DuckDB type widens differently from
the Spark type breaks the hash even when the VALUES are identical
(the r13/r14 red-row class: DuckDB widens SUM(BIGINT)-derived
arithmetic to HUGEINT, which pandas materializes as float64 —
``316667.0`` vs ``316667``).  Value comparison is blind to it; the
lint therefore maps both engines' types onto the pandas-render class
and requires per-column equality, banning HUGEINT outright.

ONE implementation, imported by both tests/test_oracle.py (the gate)
and scripts/dryrun.py (the round gate and, given face names, the fast
iteration loop) — the r15 review flagged the two hand-maintained copies
this module replaces.
"""

from __future__ import annotations


def duck_render_class(t: str) -> str:
    """Pandas-render class of a DuckDB DESCRIBE type string."""
    u = t.upper()
    if "HUGEINT" in u:
        return "HUGEINT"  # banned — renders float64/object, never int64
    if u in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT",
             "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"):
        return "int"
    if u in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if u.startswith("DECIMAL"):
        return "decimal"
    if u in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if u == "BOOLEAN":
        return "bool"
    if u == "DATE":
        return "date"
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if u in ("BLOB", "BYTEA"):
        return "binary"
    if u.endswith("[]") or u.startswith(("LIST", "STRUCT", "MAP")):
        return "nested"
    return "other:" + u


def spark_render_class(s: str) -> str:
    """Pandas-render class of a Spark DataType.simpleString()."""
    if s in ("bigint", "int", "smallint", "tinyint"):
        return "int"
    if s in ("double", "float"):
        return "float"
    if s == "string":
        return "str"
    if s == "boolean":
        return "bool"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "binary":
        return "binary"
    if s.startswith(("array", "struct", "map")):
        return "nested"
    if s.startswith("decimal"):
        return "decimal"
    return "other:" + s
