"""Versioned schema registry + writer->reader payload decoding.

Reference parity:
  VersionedSchema (name, version, schema text)  <- databus-core-schemas/
      .../schemas/VersionedSchema.java
  SchemaId = MD5 of canonical schema text       <- schemas/SchemaId.java:36,59
  registry lookup per event digest              <- DbusEventAvroDecoder.java:84-110
  writer->reader resolution (old readers decode
  new data; missing fields default)             <- DbusEventAvroDecoder.java:84-148

Spark restatement: payloads travel as serialized strings (JSON here;
Avro via from_avro when the spark-avro jar is present — same plan
shape); the registry is a broadcast dimension joined on schema_id
(J2), and reader-schema projection is from_json(payload, reader_schema)
— fields the writer lacked become NULL, fields the reader dropped are
pruned. All JVM-side.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from databus_spark.store.versions import write_atomic


@dataclass(frozen=True)
class VersionedSchema:
    name: str
    version: int
    ddl: str  # Spark DDL schema text, e.g. "a BIGINT, b STRING"

    @property
    def schema_id(self) -> str:
        """MD5 of canonical schema text (SchemaId.java:59)."""
        return hashlib.md5(self.canonical().encode()).hexdigest()

    def canonical(self) -> str:
        return f"{self.name}/{self.version}/{self.ddl}"


class SchemaRegistry:
    """In-memory VersionedSchemaSet + id->schema resolution."""

    def __init__(self) -> None:
        self._by_id: dict[str, VersionedSchema] = {}
        self._versions: dict[str, list[VersionedSchema]] = {}

    def register(self, vs: VersionedSchema) -> VersionedSchema:
        self._by_id[vs.schema_id] = vs
        self._versions.setdefault(vs.name, []).append(vs)
        self._versions[vs.name].sort(key=lambda s: s.version)
        return vs

    def by_id(self, schema_id: str) -> VersionedSchema:
        return self._by_id[schema_id]

    def latest(self, name: str) -> VersionedSchema:
        return self._versions[name][-1]

    def dim_df(self, spark: SparkSession) -> DataFrame:
        """Broadcastable registry dimension (schema_id, name, version).

        Built as a pure-JVM LocalRelation (SQL VALUES), NOT
        createDataFrame over Python rows: the latter plans as a
        pickle-serialized Python RDD whose first evaluation spawns a
        non-Arrow Python worker (~1 s billed to the first decode query
        that touches the dim — the same trap catalog.sources_registry
        documents; found again in schema_evolution_decode's r7 bench
        row)."""

        def q(s: str) -> str:
            # backslash-doubling BEFORE quote-doubling: Spark parses
            # string literals with backslash escapes, same trap as
            # text.py's _sql_str
            return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

        if not self._by_id:
            # VALUES needs >= 1 row (same guard as layout.py's interval
            # dim); an empty registry is a legal state for decode joins
            return spark.createDataFrame(
                [], "schema_id STRING, schema_name STRING, schema_version INT"
            )
        rows_sql = ", ".join(
            f"({q(s.schema_id)}, {q(s.name)}, {int(s.version)})"
            for s in self._by_id.values()
        )
        return spark.sql(
            "SELECT col1 AS schema_id, col2 AS schema_name, "
            f"CAST(col3 AS INT) AS schema_version FROM (VALUES {rows_sql})"
        )


class FileSchemaRegistry(SchemaRegistry):
    """Directory-backed registry: one `<name>.<version>.ddl` file per
    schema, re-scanned on refresh().

    Reference parity:
      file layout + `(.*)\\.(\\d+).avsc` name parse
          <- FileSystemVersionedSchemaSetProvider.java:44,79-117
      periodic re-scan picking up new versions (without the thread —
      callers refresh at poll boundaries)
          <- FileSystemSchemaRegistryService.java:144-160
    """

    SUFFIX = ".ddl"
    _NAME_RE = re.compile(r"(.*)\.(\d+)\.ddl$")

    def __init__(self, schema_dir: str) -> None:
        super().__init__()
        self.schema_dir = schema_dir
        os.makedirs(schema_dir, exist_ok=True)
        self.refresh()

    def register(self, vs: VersionedSchema) -> VersionedSchema:
        path = os.path.join(self.schema_dir, f"{vs.name}.{vs.version}{self.SUFFIX}")
        write_atomic(path, vs.ddl)  # a concurrent refresh never sees a torn file
        return super().register(vs)

    def refresh(self) -> int:
        """Re-scan the directory; returns how many NEW schemas were loaded.
        Already-known (name, version) pairs are kept as-is — the reference
        treats published schema versions as immutable."""
        known = {(s.name, s.version) for vss in self._versions.values() for s in vss}
        loaded = 0
        for fname in sorted(os.listdir(self.schema_dir)):
            m = self._NAME_RE.match(fname)
            if not m:
                continue
            name, version = m.group(1), int(m.group(2))
            if (name, version) in known:
                continue
            with open(os.path.join(self.schema_dir, fname)) as f:
                SchemaRegistry.register(self, VersionedSchema(name, version, f.read()))
            loaded += 1
        return loaded


def decode_with_reader(
    df: DataFrame,
    payload_col: str,
    reader: VersionedSchema,
    registry: SchemaRegistry,
    spark: SparkSession,
) -> DataFrame:
    """Decode serialized payloads with the READER schema, resolving each
    row's writer version via a broadcast registry join on schema_id.

    Writer->reader rules (Avro resolution semantics, DbusEventAvroDecoder):
    fields absent from the writer payload -> NULL; fields the reader
    dropped -> pruned by from_json's schema projection.
    """
    dim = registry.dim_df(spark)
    decoded = df.join(F.broadcast(dim), "schema_id", "left").withColumn(
        "_payload", F.from_json(F.col(payload_col), reader.ddl)
    )
    return decoded.select(
        *[c for c in df.columns if c not in (payload_col,)],
        "schema_name",
        "schema_version",
        F.col("_payload.*"),
    )
