"""SCHEMA-keyed (composite) event keys — the third DbusEventKey type.

The reference's event key is LONG, STRING, or SCHEMA — a typed composite
record serialized with its own key schema, compared by canonical bytes
(reference: databus-core-impl/.../core/DbusEventKey.java:30-35,
KeyType enum; DbusEventPart key part carries the schema digest).
The envelope's `key_num`/`key_str` cover the first two; this module
makes composite keys first-class instead of ad-hoc string concat:

  * ``schema_key(**fields)`` builds a typed ``key_struct`` column; all
    relational machinery (groupBy / join / window / dedup) operates on
    the struct NATIVELY — Spark hashes and compares struct values
    field-wise, so compaction over `key_struct` needs no serialization
    at all (the engine-native improvement over canonical-bytes equality).
  * ``canonical_key(struct, fields)`` is the deterministic string
    serialization (the canonical-bytes analog) for interop with
    string-keyed stores, filters, and checkpoints. Injective for key
    fields that cannot contain the separator (numeric/date fields; for
    free-text fields choose a separator outside the alphabet).

Both engines produce identical canonical strings (concat with ':'),
so DuckDB oracles verify struct-keyed results end-to-end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

CANONICAL_SEP = ":"


def schema_key(**fields: Column) -> Column:
    """Typed composite key: schema_key(l_orderkey=col, line=col, ...) ->
    struct column with those field names, in declaration order (the key
    schema; DbusEventKey SCHEMA type)."""
    return F.struct(*[c.alias(name) for name, c in fields.items()])


def canonical_key(key_struct: Column | str, fields: Sequence[str]) -> Column:
    """Canonical string form of a schema key (canonical-bytes analog):
    field values in key-schema order joined with ':'. NULL fields encode
    as empty (concat_ws skips NULLs symmetrically in Spark and DuckDB)."""
    s = F.col(key_struct) if isinstance(key_struct, str) else key_struct
    return F.concat_ws(CANONICAL_SEP, *[s[f].cast("string") for f in fields])


def key_field(name: str, key_col: str = "key_struct") -> Column:
    """Accessor for one field of the composite key (filter building block:
    range/mod predicates apply to any key field, pushed like any column)."""
    return F.col(f"{key_col}.{name}")

