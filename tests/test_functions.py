"""Scalar-function parity checks without a DuckDB twin (crc32, gzip)."""

from __future__ import annotations

import zlib

import pytest

from pyspark.sql import functions as F


def test_crc32_matches_zlib(spark):
    """Spark's crc32 must match zlib (the reference's ByteBufferCRC32 is
    standard CRC-32, DbusEventV2.java:138-151)."""
    samples = ["", "databus", "Customer#000000042", "x" * 1000]
    df = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s", F.crc32(F.encode("s", "UTF-8")).alias("c")
    )
    got = {r["s"]: r["c"] for r in df.collect()}
    for s in samples:
        assert got[s] == zlib.crc32(s.encode()), s


def test_gzip_roundtrip_deterministic(spark):
    """CompressUtil analog: compress/decompress round-trip, deterministic bytes."""
    from databus_spark.functions.codecs import gzip_compress, gzip_decompress

    df = spark.createDataFrame(
        [("checkpoint-blob-1",), ("{}",), ("",)], "s string"
    ).select("s", gzip_compress("s").alias("z"))
    back = df.select("s", gzip_decompress("z").alias("s2"), "z").collect()
    for r in back:
        assert r["s2"] == r["s"]
    # determinism across invocations (mtime pinned)
    again = {r["s"]: bytes(r["z"]) for r in df.collect()}
    for r in back:
        assert bytes(r["z"]) == again[r["s"]]


def test_schema_registry_ids_and_latest():
    from databus_spark.sources.schema_registry import SchemaRegistry, VersionedSchema

    v1 = VersionedSchema("p", 1, "a BIGINT")
    v2 = VersionedSchema("p", 2, "a BIGINT, b STRING")
    reg = SchemaRegistry()
    reg.register(v2)
    reg.register(v1)
    assert reg.latest("p") == v2
    assert reg.by_id(v1.schema_id) == v1
    assert v1.schema_id != v2.schema_id
    assert len(v1.schema_id) == 32  # md5 hex


def test_file_schema_registry_persists_and_refreshes(tmp_path):
    """FileSystemVersionedSchemaSetProvider parity: schemas live as
    <name>.<version>.ddl files; a second registry over the same dir sees
    them; refresh() picks up versions published by another writer."""
    from databus_spark.sources.schema_registry import FileSchemaRegistry, VersionedSchema

    d = str(tmp_path / "schemas")
    reg = FileSchemaRegistry(d)
    v1 = reg.register(VersionedSchema("orders", 1, "a BIGINT"))
    v2 = reg.register(VersionedSchema("orders", 2, "a BIGINT, b STRING"))
    reg.register(VersionedSchema("members", 1, "m STRING"))

    # reload from disk: identical ids, versions, latest resolution
    reg2 = FileSchemaRegistry(d)
    assert reg2.latest("orders").schema_id == v2.schema_id
    assert reg2.by_id(v1.schema_id).ddl == "a BIGINT"
    assert reg2.latest("members").version == 1

    # another publisher drops a new version into the dir -> refresh sees it
    (tmp_path / "schemas" / "orders.3.ddl").write_text("a BIGINT, b STRING, c INT")
    (tmp_path / "schemas" / "README.txt").write_text("ignored: wrong suffix")
    assert reg2.refresh() == 1
    assert reg2.latest("orders").version == 3
    assert reg2.refresh() == 0  # idempotent: published versions are immutable


def test_payload_codec_roundtrip_with_available_codec(spark):
    """Payload serde round-trips under whichever codec the image has
    (Avro if spark-avro is loaded, JSON fallback otherwise)."""
    from pyspark.sql import functions as F

    from databus_spark.sources.payload_codec import (
        avro_available,
        decode_payload,
        encode_payload,
    )

    df = spark.createDataFrame([(1, "x", 2.5), (2, None, -1.0)], "a LONG, b STRING, c DOUBLE")
    enc = df.select(encode_payload(F.struct("a", "b", "c")).alias("p"))
    dec = enc.select(decode_payload(F.col("p"), "a LONG, b STRING, c DOUBLE").alias("s")).select("s.*")
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, df.collect()))
    # reader-schema projection: extra reader field -> NULL
    wide = enc.select(
        decode_payload(F.col("p"), "a LONG, b STRING, c DOUBLE, d STRING").alias("s")
    ).select("s.d")
    assert all(r["d"] is None for r in wide.collect())
    assert isinstance(avro_available(), bool)


def test_key_mod_bucket_parses_numeric_strings(spark):
    """KeyModFilter tries Long.parseLong before hashing (KeyModFilter.java:60-76):
    a numeric string key buckets by its parsed value, not its hashCode."""
    from databus_spark.functions.hashes import java_string_hashcode
    from databus_spark.operators.filters import key_mod_bucket

    df = spark.createDataFrame(
        [(None, "42"), (None, "-7"), (None, "abc"), (17, "ignored")],
        "key_num LONG, key_str STRING",
    )
    got = {r["key_str"]: r["b"] for r in df.select("key_str", key_mod_bucket().alias("b")).collect()}
    assert got["42"] == 42          # parsed, not hashed
    assert got["-7"] == 7           # abs of parsed value
    assert got["ignored"] == 17     # key_num wins outright
    abc_hash = df.where(F.col("key_str") == "abc").select(
        F.abs(java_string_hashcode(F.col("key_str"))).cast("long").alias("h")
    ).collect()[0]["h"]
    assert got["abc"] == abc_hash   # non-numeric string falls back to hashCode


def test_java_hashcode_matches_jvm_reference(spark):
    """Bit-exact Java String.hashCode parity of the AND-fold form,
    including wrap-around past 2^31 and the empty string."""
    cases = ["", "a", "abc", "hello world", "evt_0001234", "x" * 40, "Üñî-çødé"]

    def jhash(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) & 0xFFFFFFFF
        return h - 4294967296 if h >= 2147483648 else h

    from databus_spark.functions.hashes import java_string_hashcode

    df = spark.createDataFrame([(s,) for s in cases], "s STRING")
    got = {r["s"]: r["h"] for r in df.select("s", java_string_hashcode(F.col("s")).alias("h")).collect()}
    for s in cases:
        assert got[s] == jhash(s), s


def test_subscribe_key_mod_warns_on_unrouted_fallback(spark, sf_dir, tmp_path):
    """The enforced subscription API: routed logs take the pruned path
    silently; unrouted logs still work but raise UnroutedKeyModWarning."""
    import warnings

    from databus_spark.envelope import customer_changelog
    from databus_spark.operators.filters import (
        UnroutedKeyModWarning,
        key_mod_filter,
        subscribe_key_mod,
    )
    from databus_spark.streaming.source import stage_changelog

    log = customer_changelog(spark, sf_dir)
    expected = log.where(key_mod_filter(8, 0, 4)).count()

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> failure
        stage = str(tmp_path / "routed")
        stage_changelog(log, stage, n_chunks=2, route_buckets=8)
        staged = spark.read.option("basePath", stage).parquet(stage + "/chunk=*")
        sub = subscribe_key_mod(staged, 8, 0, 4, route_buckets=8)
        assert "PartitionFilters: [isnotnull(route_partition" in (
            sub._jdf.queryExecution().executedPlan().toString()
        )
        assert sub.count() == expected

    with pytest.warns(UnroutedKeyModWarning):
        fallback = subscribe_key_mod(log, 8, 0, 4)
    assert fallback.count() == expected

    with pytest.warns(UnroutedKeyModWarning):
        incompatible = subscribe_key_mod(staged, 3, 0, 1, route_buckets=8)
    assert incompatible.count() == log.where(key_mod_filter(3, 0, 1)).count()


def test_subscribe_key_mod_staged_hash_tier(spark, sf_dir, tmp_path):
    """The ANY-MODULUS middle tier: a log staged with with_key_hash
    serves key-mod subscriptions from the stored column — silently (no
    UnroutedKeyModWarning), equal to the per-row hash fallback for
    every modulus (including ones no routed layout could serve), and
    with zero hash evaluation in the physical plan."""
    import warnings

    from databus_spark.envelope import customer_changelog
    from databus_spark.operators.filters import (
        key_mod_filter,
        key_mod_filter_staged,
        subscribe_key_mod,
    )
    from databus_spark.streaming.source import stage_changelog

    log = customer_changelog(spark, sf_dir)
    stage = str(tmp_path / "keyhash")
    stage_changelog(log, stage, n_chunks=2, key_hash=True)
    staged = spark.read.option("basePath", stage).parquet(stage + "/chunk=*")

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # staged tier must be silent
        for n, lo, hi in [(8, 0, 4), (5, 0, 2), (3, 1, 3), (7, 2, 7)]:
            sub = subscribe_key_mod(staged, n, lo, hi)
            assert sub.count() == log.where(key_mod_filter(n, lo, hi)).count(), (n, lo, hi)
        # the staged plan evaluates NO hash: no JVM reflect call, no
        # string fold — one pmod over the stored column
        plan = (
            staged.where(key_mod_filter_staged(5, 0, 2))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "reflect" not in plan.lower()
        assert "key_hash" in plan

    # routed layout present but modulus incompatible: the hash column
    # still serves it silently (no fallback warning)
    routed = str(tmp_path / "routed_and_hashed")
    stage_changelog(log, routed, n_chunks=2, route_buckets=8, key_hash=True)
    staged2 = spark.read.option("basePath", routed).parquet(routed + "/chunk=*")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sub = subscribe_key_mod(staged2, 3, 0, 1, route_buckets=8)
        assert sub.count() == log.where(key_mod_filter(3, 0, 1)).count()


def test_subscribe_key_mod_rejects_unrelated_key_hash(spark, sf_dir):
    """An input that merely CARRIES a column named ``key_hash`` with
    unrelated values must not be silently filtered on it (r13 ADVICE:
    the routed tier needs an explicit route_buckets opt-in, but the
    hash tier auto-activated on the column name alone). The sampled
    consistency probe rejects the impostor column, warns, and falls
    back to the per-row hash scan — correct rows, visible cost."""
    from databus_spark.envelope import customer_changelog
    from databus_spark.operators.filters import (
        StagedHashMismatchWarning,
        key_mod_filter,
        subscribe_key_mod,
    )

    log = customer_changelog(spark, sf_dir)
    expected = log.where(key_mod_filter(8, 0, 4)).count()

    poisoned = log.withColumn("key_hash", F.col("scn") * 7 + 1)
    with pytest.warns(StagedHashMismatchWarning):
        sub = subscribe_key_mod(poisoned, 8, 0, 4)
    assert sub.count() == expected


def test_avro_binary_wire_format_roundtrip():
    """Pure-Python Avro binary codec: round-trip + spec-exact primitives."""
    from databus_spark.functions.avro_codec import decode_record, encode_record

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
            {"name": "c", "type": "double"},
            {"name": "d", "type": "boolean"},
            {"name": "e", "type": "bytes"},
        ],
    }
    rec = {"a": -123456789012, "b": "héllo ☃", "c": -0.1, "d": True, "e": b"\x00\xff"}
    out = decode_record(encode_record(rec, schema), schema, schema)
    assert out == rec
    # null union branch
    rec2 = {"a": 0, "b": None, "c": 1.5, "d": False, "e": b""}
    assert decode_record(encode_record(rec2, schema), schema, schema) == rec2
    # zigzag spec vectors: 0->0x00, -1->0x01, 1->0x02, -2->0x03
    small = {"type": "record", "name": "z", "fields": [{"name": "n", "type": "long"}]}
    assert encode_record({"n": 0}, small) == b"\x00"
    assert encode_record({"n": -1}, small) == b"\x01"
    assert encode_record({"n": 1}, small) == b"\x02"
    assert encode_record({"n": -2}, small) == b"\x03"


def test_avro_binary_schema_resolution():
    """Writer-only fields skipped; reader-only fields defaulted; int->long
    and long->double promotion (Avro spec 'Schema Resolution')."""
    from databus_spark.functions.avro_codec import decode_record, encode_record

    writer = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "keep", "type": "int"},
            {"name": "dropped", "type": "string"},
            {"name": "price", "type": "long"},
        ],
    }
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "keep", "type": "long"},
            {"name": "price", "type": "double"},
            {"name": "added", "type": ["null", "string"], "default": None},
            {"name": "tagged", "type": "string", "default": "dflt"},
        ],
    }
    buf = encode_record({"keep": 7, "dropped": "bye", "price": 42}, writer)
    out = decode_record(buf, writer, reader)
    assert out == {"keep": 7, "price": 42.0, "added": None, "tagged": "dflt"}
    assert isinstance(out["price"], float)


def test_schema_key_struct_store_merge(spark, tmp_path):
    """ParquetSnapshotStore keyed on the composite key_struct: merge
    last-wins semantics work on struct keys natively, and the canonical
    string form round-trips injectively."""
    from pyspark.sql import functions as F

    from databus_spark.operators.keys import canonical_key, schema_key
    from databus_spark.store.snapshot import ParquetSnapshotStore

    def batch(rows):
        df = spark.createDataFrame(rows, "a BIGINT, b BIGINT, scn BIGINT, opcode STRING, v STRING")
        return df.select(
            schema_key(a=F.col("a"), b=F.col("b")).alias("key_struct"),
            "scn", "opcode", "v",
        )

    store = ParquetSnapshotStore(spark, str(tmp_path / "s"), key_cols=("key_struct",))
    store.merge(batch([(1, 1, 10, "UPSERT", "x"), (1, 2, 10, "UPSERT", "y")]))
    store.merge(batch([(1, 1, 20, "UPSERT", "x2"), (1, 2, 15, "DELETE", None),
                       (2, 1, 12, "UPSERT", "z")]))
    got = {
        (r["key_struct"]["a"], r["key_struct"]["b"]): (r["scn"], r["v"])
        for r in store.read().collect()
    }
    assert got == {(1, 1): (20, "x2"), (2, 1): (12, "z")}  # (1,2) tombstoned

    # canonicalization is injective on these fields and stable
    c = batch([(1, 23, 1, "UPSERT", "x"), (12, 3, 1, "UPSERT", "y")]).select(
        canonical_key("key_struct", ["a", "b"]).alias("c")
    )
    assert {r["c"] for r in c.collect()} == {"1:23", "12:3"}


def test_portable_hash64_null_parity_with_oracle(spark):
    """NULL inputs must hash identically in both engines: Spark's
    concat_ws skips NULL while DuckDB's concat renders it as '' — the
    oracle macro therefore uses concat_ws too (r6 advice)."""
    import duckdb

    from databus_spark.functions.hashes import portable_hash64, portable_hash64_sql

    df = spark.createDataFrame(
        [("a",), (None,), ("",), ("split|x",)], "s string"
    ).select("s", portable_hash64(F.col("s"), 7).alias("h"))
    got = {r["s"]: r["h"] for r in df.collect()}

    con = duckdb.connect()
    expr = portable_hash64_sql("s", 7)
    want = dict(
        con.execute(
            f"SELECT s, {expr} AS h FROM (VALUES ('a'), (NULL), (''), ('split|x')) t(s)"
        ).fetchall()
    )
    assert got == want


def test_schema_registry_empty_dim_df(spark):
    """dim_df over an empty registry must return an empty 3-column
    frame, not a ParseException: the VALUES rewrite needs >= 1 row
    (same guard as layout.py's interval dim), and an empty registry is
    a legal state for decode left-joins."""
    from databus_spark.sources.schema_registry import SchemaRegistry

    dim = SchemaRegistry().dim_df(spark)
    assert dim.count() == 0
    assert dim.columns == ["schema_id", "schema_name", "schema_version"]


def test_schema_registry_dim_df_escapes_backslash(spark):
    """Schema names are DATA in the VALUES literal: backslashes must be
    doubled before quote-doubling (Spark parses string literals with
    backslash escapes), or 'a\\tb' silently becomes a TAB."""
    from databus_spark.sources.schema_registry import SchemaRegistry, VersionedSchema

    reg = SchemaRegistry()
    reg.register(VersionedSchema(name="we\\trd'name", version=1, ddl="k BIGINT"))
    row = reg.dim_df(spark).collect()[0]
    assert row["schema_name"] == "we\\trd'name"
