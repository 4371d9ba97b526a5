"""Spark 4 VariantType ingestion for untyped nested JSON (SURVEY §1.1).

The reference's source documents are schema-less ``map[string]any``
(``main.go:140-144``). Two idiomatic Spark encodings exist:

1. explicit ``StructType`` (``json_source.py``) — best when the shape is
   known; full pruning/pushdown.
2. ``VariantType`` (this module) — Spark 4's binary semi-structured
   encoding: keeps arbitrary nesting without a schema, with typed path
   extraction (``try_variant_get``) that is an order of magnitude faster
   than string-JSON ``get_json_object`` on repeated access because the
   document parses ONCE into the binary form.

At 100 TB, variant columns store parsed-binary in parquet (shredding in
newer writers), so repeated extraction never re-parses text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_variant(json_col: str | Column) -> Column:
    """Parse a JSON string column into a variant value."""
    c = F.col(json_col) if isinstance(json_col, str) else json_col
    return F.parse_json(c)


def variant_get(variant_col: str | Column, path: str, dtype: str = "string") -> Column:
    """Typed path extraction (``$.a.b[0]`` syntax); NULL on miss or cast
    failure (``try_`` semantics — matches the reference's tolerance of
    missing keys, SURVEY §1.2)."""
    c = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    if not path.startswith("$"):
        path = "$." + path
    return F.try_variant_get(c, path, dtype)
