"""Typed, order-insensitive digest of a query result.

Both engines hand over an Arrow table. The digest covers the column
names, a canonical form of each column's type, and every value, with
columns taken in name order and rows sorted, so two results agree
exactly when they hold the same typed multiset of rows.

Type canonicalisation forgives only encodings of the same logical
type: string vs large_string, the unit and zone spelling of
timestamps, integer width, and the inner field name and nullability of
lists. Floats stay width-strict and are compared bit for bit through
``repr``; decimals stay distinct from integers.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import re

import pyarrow as pa


def canon_type(t: pa.DataType) -> str:
    s = str(t)
    s = s.replace("large_string", "string").replace("large_binary", "binary")
    s = re.sub(r"timestamp\[[^\]]*\]", "timestamp", s)
    s = re.sub(r"\bint(8|16|32|64)\b", "int", s)
    s = re.sub(r"list<\w+: ", "list<", s).replace(" not null", "")
    return s


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(tbl: pa.Table) -> tuple[list[str], list[tuple[str, ...]]]:
    """(``name:type`` header in name order, sorted canonical rows)."""
    order = sorted(range(tbl.num_columns), key=lambda i: tbl.column_names[i])
    header = [f"{tbl.column_names[i]}:{canon_type(tbl.schema.field(i).type)}" for i in order]
    cols = [tbl.column(i).to_pylist() for i in order]
    rows = sorted(tuple(canon_value(v) for v in r) for r in zip(*cols))
    return header, rows


def digest(tbl: pa.Table) -> tuple[str, int]:
    """(sha256 hex of the canonical result, row count)."""
    header, rows = canon_rows(tbl)
    h = hashlib.sha256(json.dumps(header).encode())
    for r in rows:
        h.update(b"\n")
        h.update(json.dumps(r).encode())
    return h.hexdigest(), len(rows)
