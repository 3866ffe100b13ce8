"""Result-TYPE parity sweep: DuckDB oracle column types vs Spark plan
schema, per oracle-paired registry query.

Why this exists: the external driver's value hash is result-type
sensitive — round 8 proved that a DuckDB oracle emitting HUGEINT
(uncast SUM over integers) or DECIMAL(38,0) hash-fails against a Spark
BIGINT/decimal column even when every value is identical, while both
local gates compared Python values where Decimal('15000') == 15000 is
True and were blind to it. This sweep types BOTH sides without running
the data (Spark schemas are lazy; DuckDB relations bind without
fetching) and flags any pair whose canonical types differ.

A library, not a sweep of its own: ``tools/verify_drive.py`` checks
every query it drives with ``column_report``, and the oracle tests do
the same through ``tests/oracle.assert_type_parity``.
"""

from __future__ import annotations

import re

# DuckDB type name -> canonical. Parameterized types (DECIMAL, lists,
# maps, structs) are handled structurally in _canon_duck.
_DUCK_SCALARS = {
    "TINYINT": "int8",
    "SMALLINT": "int16",
    "INTEGER": "int32",
    "BIGINT": "int64",
    "HUGEINT": "int128",
    "UTINYINT": "uint8",
    "USMALLINT": "uint16",
    "UINTEGER": "uint32",
    "UBIGINT": "uint64",
    "UHUGEINT": "uint128",
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "VARCHAR": "string",
    "BLOB": "binary",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIME": "time",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_S": "timestamp",
    "TIMESTAMP_MS": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "INTERVAL": "interval",
    "UUID": "string",
}

_SPARK_SCALARS = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "binary": "binary",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "void": "null",
}


def _canon_duck(t: str) -> str:
    t = t.strip()
    if t.endswith("[]"):
        return f"array<{_canon_duck(t[:-2])}>"
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = re.fullmatch(r"MAP\((.*)\)", t)
    if m:
        k, v = _split_top(m.group(1))
        return f"map<{_canon_duck(k)},{_canon_duck(v)}>"
    m = re.fullmatch(r"STRUCT\((.*)\)", t)
    if m:
        fields = []
        for part in _split_all(m.group(1)):
            name, _, ftype = part.strip().partition(" ")
            name = name.strip('"')
            fields.append(f"{name}:{_canon_duck(ftype)}")
        return "struct<" + ",".join(fields) + ">"
    return _DUCK_SCALARS.get(t, f"?duck:{t}")


def _split_top(s: str) -> tuple[str, str]:
    parts = _split_all(s)
    return parts[0], parts[1]


def _split_all(s: str) -> list[str]:
    """Split on top-level commas (ignoring nested parens/brackets)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _canon_spark(t: str) -> str:
    t = t.strip()
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = re.fullmatch(r"array<(.*)>", t)
    if m:
        return f"array<{_canon_spark(m.group(1))}>"
    m = re.fullmatch(r"map<(.*)>", t)
    if m:
        k, v = _split_top(m.group(1))
        return f"map<{_canon_spark(k)},{_canon_spark(v)}>"
    m = re.fullmatch(r"struct<(.*)>", t)
    if m:
        fields = []
        for part in _split_all(m.group(1)):
            name, _, ftype = part.partition(":")
            fields.append(f"{name}:{_canon_spark(ftype)}")
        return "struct<" + ",".join(fields) + ">"
    return _SPARK_SCALARS.get(t, f"?spark:{t}")


_RISKY = re.compile(r"int128|uint128|decimal\(3[3-9],")


def classify(duck_canon: str, spark_canon: str) -> str | None:
    """None = parity. 'HARD' = a class the driver hash is proven (r8)
    or presumed to reject. Evidence base:
    - HUGEINT / DECIMAL(38,0) oracle vs Spark BIGINT hash-FAILED
      (dq9, mm4) with identical values;
    - DECIMAL(38,0) on BOTH sides ALSO hash-failed (dq13) — wide
      decimals fetch through different Python/Arrow representations,
      so they are hard-failed even when declared equal;
    - plain int-width mismatches (int8/int32/int64) were attested
      GREEN in r8 (er3 dist, f9 cap40/floor10, f16 pop_count, w9) —
      empirically safe, but still reported HARD here so the sweep
      converges to zero and never has to re-litigate a 'safe' list."""
    if _RISKY.search(duck_canon) or _RISKY.search(spark_canon):
        return "HARD"
    if duck_canon == spark_canon:
        return None
    return "HARD"


def column_report(duck_types: dict[str, str], spark_types: dict[str, str]):
    """Compare two {column -> canonical type} maps; yield mismatches."""
    for col in sorted(set(duck_types) | set(spark_types)):
        d, s = duck_types.get(col), spark_types.get(col)
        if d is None or s is None:
            yield (col, d, s, "HARD")  # column-set mismatch
            continue
        sev = classify(d, s)
        if sev:
            yield (col, d, s, sev)


def spark_canonical_schema(df) -> dict[str, str]:
    return {f.name: _canon_spark(f.dataType.simpleString()) for f in df.schema.fields}


def duck_canonical_schema(rel) -> dict[str, str]:
    return {c: _canon_duck(str(t)) for c, t in zip(rel.columns, rel.types)}
