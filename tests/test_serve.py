"""RelayFacade: the /sources /register /stream lifecycle composed."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from databus_spark.envelope import multi_source_changelog
from databus_spark.serve import RelayFacade
from databus_spark.sources.schema_registry import SchemaRegistry, VersionedSchema
from databus_spark.store.snapshot import ParquetSnapshotStore
from databus_spark.streaming.checkpoint import Checkpoint, SCNNotFoundError
from tests.conftest import count_jobs


@pytest.fixture(scope="module")
def facade(spark, sf_dir):
    reg = SchemaRegistry()
    reg.register(VersionedSchema("orders", 1, "o_orderkey BIGINT, o_totalprice DOUBLE"))
    reg.register(
        VersionedSchema("orders", 2, "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
    )
    log = multi_source_changelog(spark, sf_dir).localCheckpoint(eager=True)
    return RelayFacade(spark, log, reg), log


def test_sources_endpoint(facade):
    f, _ = facade
    rows = {r["source"]: r["source_id"] for r in f.sources().collect()}
    assert rows["orders"] == 1 and rows["customer"] == 2


def test_register_endpoint_returns_all_versions(facade):
    f, _ = facade
    rows = f.register(["orders"]).collect()
    assert {r["schema_version"] for r in rows} == {1, 2}
    assert all(len(r["schema_id"]) == 32 for r in rows)
    with pytest.raises(KeyError):
        f.register(["not_a_source"])


def test_stream_checkpoint_filters_and_size(facade):
    f, log = facade
    ckpt = Checkpoint().on_window_end(1_000_000_000, 0)

    # after-checkpoint + source + partition conjunction
    out = f.stream(ckpt, sources=["orders"], partitions=[0, 1])
    exp = log.where(
        (F.col("scn") > 1_000_000_000)
        & (F.col("source") == "orders")
        & F.col("part_id").isin([0, 1])
    )
    assert out.count() == exp.count()
    assert out.agg(F.min("scn")).collect()[0][0] > 1_000_000_000

    # key-filter config narrows further
    cfg = {"orders": {"partitionType": "MOD", "numBuckets": 4, "buckets": "[0]"}}
    narrowed = f.stream(ckpt, sources=["orders"], filter_config=cfg)
    assert 0 < narrowed.count() < out.count() + 1

    # byte budget caps the scan in scn order
    budget = 5000
    page = f.stream(0, size_bytes=budget).collect()
    assert len(page) > 0
    total = sum(45 + len(r["key_str"]) + len(r["source"]) for r in page)
    assert total <= budget
    scns = [r["scn"] for r in page]
    assert scns == sorted(scns)


def test_stream_pagination_is_resumable(facade):
    """Two consecutive size-bounded pages are disjoint and contiguous."""
    f, _ = facade
    page1 = f.stream(0, size_bytes=4000).collect()
    last_scn = max(r["scn"] for r in page1)
    page2 = f.stream(last_scn, size_bytes=4000).collect()
    assert page2
    assert min(r["scn"] for r in page2) > last_scn


class _FlakyFacade(RelayFacade):
    """Relay replica that dies for a stretch of calls, then recovers."""

    def __init__(self, spark, log, fail_calls=range(0, 10**9)):
        super().__init__(spark, log)
        self._calls = 0
        self._fail_calls = fail_calls

    def stream_windows(self, since_scn, n_windows):
        call, self._calls = self._calls, self._calls + 1
        if call in self._fail_calls:
            raise ConnectionError("relay down")
        return super().stream_windows(since_scn, n_windows)


def test_multi_relay_failover_no_loss_no_dup(facade, spark):
    """A relay dying mid-stream rotates the client to a replica; the
    page retries from the same checkpoint — final drain equals the log
    exactly (window-atomic: no partial transactions at any boundary)."""
    from databus_spark.serve import MultiRelayClient

    _, log = facade
    # relay 0 serves 2 pages then dies; relay 1 healthy throughout
    primary = _FlakyFacade(spark, log, fail_calls=range(2, 10**9))
    replica = RelayFacade(spark, log)
    client = MultiRelayClient([primary, replica], start_scn=-1)  # log's min scn is 0

    pages: list = []
    n_pages = client.drain(lambda p: pages.append(p.localCheckpoint(eager=True)), n_windows=600)
    assert client.failovers == 1
    assert n_pages >= 3  # failover happened mid-stream, drain continued

    union = pages[0]
    for p in pages[1:]:
        union = union.unionByName(p)
    assert union.count() == log.count()  # no loss, no dup
    assert union.select("scn", "source", "key_str").distinct().count() == \
        log.select("scn", "source", "key_str").distinct().count()

    # window atomicity: no scn spans two pages
    seen: set = set()
    for p in pages:
        scns = {r["scn"] for r in p.select("scn").distinct().collect()}
        assert not (scns & seen)
        seen |= scns


def test_multi_relay_all_down_raises(facade, spark):
    from databus_spark.serve import MultiRelayClient, RelayUnavailableError

    _, log = facade
    client = MultiRelayClient([_FlakyFacade(spark, log), _FlakyFacade(spark, log)])
    import pytest as _pytest

    with _pytest.raises(RelayUnavailableError):
        client.pull()


def test_failover_drain_builds_exact_snapshot(facade, spark, tmp_path):
    """End-to-end: a consumer drains the log through the failover client
    into the MERGE store; despite a mid-stream relay death the final
    store state equals batch compaction of the full log exactly."""
    from databus_spark.operators.compaction import latest_by_key
    from databus_spark.serve import MultiRelayClient
    from databus_spark.store.snapshot import ParquetSnapshotStore

    _, log = facade
    primary = _FlakyFacade(spark, log, fail_calls=range(1, 3))  # dies after page 0
    replica = RelayFacade(spark, log)
    client = MultiRelayClient([primary, replica], start_scn=-1)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "key_str"))

    client.drain(lambda p: store.merge(p), n_windows=700)
    assert client.failovers >= 1

    got = sorted(
        (r["source"], r["key_str"], r["scn"]) for r in store.read().collect()
    )
    want_df = latest_by_key(log, ("source", "key_str")).where(F.col("opcode") != "DELETE")
    want = sorted((r["source"], r["key_str"], r["scn"]) for r in want_df.collect())
    assert got == want


def test_stale_checkpoint_scn_not_found_then_bootstrap_cue(facade, spark):
    """A checkpoint below a relay's retention floor never silently skips
    the pruned gap: the relay answers SCNNotFound; the client first
    tries a replica with deeper retention, and only when every relay
    has pruned past the checkpoint does SCNNotFoundError surface as the
    bootstrap cue."""
    from databus_spark.serve import MultiRelayClient
    from databus_spark.streaming.controller import SCNNotFoundError

    _, log = facade
    shallow = RelayFacade(spark, log, retained_min_scn=2_000_000_000)
    deep = RelayFacade(spark, log)  # full history

    # stale checkpoint + a deep replica: rotation saves the stream
    client = MultiRelayClient([shallow, deep], start_scn=-1)
    page = client.pull(n_windows=50)
    assert page is not None and client.failovers == 1
    assert page.agg(F.min("scn")).collect()[0][0] >= 0  # served from scn 0, no gap

    # every relay pruned -> SCNNotFoundError (not RelayUnavailableError)
    client2 = MultiRelayClient(
        [
            RelayFacade(spark, log, retained_min_scn=2_000_000_000),
            RelayFacade(spark, log, retained_min_scn=1_000_000_000),
        ],
        start_scn=-1,
    )
    with pytest.raises(SCNNotFoundError):
        client2.pull()

    # a checkpoint AT the floor boundary is still served (events > ckpt all retained)
    ok = RelayFacade(spark, log, retained_min_scn=2_000_000_000)
    page, bound = ok.stream_windows(1_999_999_999, 10)
    assert bound > 1_999_999_999


def _agg_max_bound(log, since, n):
    """The bound as an aggregate over the limited distinct scns."""
    nxt = log.where(F.col("scn") > since).select("scn").distinct()
    return nxt.orderBy("scn").limit(n).agg(F.max("scn")).collect()[0][0]


def test_stream_windows_bound_edges(facade):
    """The page bound equals the max over the next n distinct scns: with
    fewer than n windows left, with a checkpoint at the head (caught
    up: the checkpoint comes back with an empty page), and over windows
    of several rows each, whose rows are all served."""
    f, log = facade
    counts = log.groupBy("scn").count()
    multi = sorted(r["scn"] for r in counts.where(F.col("count") > 1).collect())
    scns = sorted(r["scn"] for r in counts.collect())
    assert len(multi) >= 3  # the fixture has multi-row txn windows
    head = scns[-1]

    page, bound = f.stream_windows(scns[-4], 10)  # 3 windows left
    assert bound == _agg_max_bound(log, scns[-4], 10) == head
    assert page.count() == log.where(F.col("scn") > scns[-4]).count()

    page, bound = f.stream_windows(head, 10)
    assert _agg_max_bound(log, head, 10) is None
    assert bound == head and page.count() == 0

    for since in (multi[0] - 1, multi[len(multi) // 2] - 1, multi[-1] - 1):
        for n in (1, 2, 7):
            page, bound = f.stream_windows(since, n)
            assert bound == _agg_max_bound(log, since, n)
            assert page.count() == log.where(
                (F.col("scn") > since) & (F.col("scn") <= bound)
            ).count()
            assert page.select("scn").distinct().count() == min(
                n, sum(1 for s in scns if s > since)
            )


def test_scn_index_bound_matches_aggregate(facade, spark):
    """The index's binary search gives the bound the aggregate gives:
    from below the log's first SCN, from a window SCN, from between two
    windows, and past the head (caught up). A relay that retains less
    still raises SCNNotFound first, without building its index."""
    f, log = facade
    scns = sorted(r["scn"] for r in log.select("scn").distinct().collect())
    gaps = [a for a, b in zip(scns, scns[1:]) if b - a > 1]
    assert gaps  # the fixture has SCNs no window carries
    for since in (scns[0] - 5, scns[0], scns[len(scns) // 2], gaps[len(gaps) // 2] + 1,
                  scns[-1] + 7):
        for n in (1, 3):
            page, bound = f.stream_windows(since, n)
            want = _agg_max_bound(log, since, n)
            assert bound == (since if want is None else want), (since, n)
            assert page.count() == log.where(
                (F.col("scn") > since) & (F.col("scn") <= bound)
            ).count()

    shallow = RelayFacade(spark, log, retained_min_scn=scns[5])
    with pytest.raises(SCNNotFoundError):
        shallow.stream_windows(scns[0] - 5, 3)
    assert shallow._scns is None


def test_one_job_per_request(facade, spark, tmp_path):
    """Each consumer request is one Spark job: a page once the relay's
    SCN index exists (building it is one more, once per relay), a
    byte-budgeted stream (one stage: its top-k and running sum need no
    exchange on the one-partition buffer) and a lookup from a local keys
    frame. A list-of-rows keys frame adds the job that collects it."""
    _, log = facade
    relay = RelayFacade(spark, log)
    scns = sorted(r["scn"] for r in log.select("scn").distinct().collect())
    _, jobs, _ = count_jobs(spark, "serve-scn-index", lambda: relay.stream_windows(scns[0], 1))
    assert jobs == 1
    for since in (scns[0], scns[len(scns) // 3]):
        table, jobs, _ = count_jobs(
            spark, f"serve-page-{since}", lambda s=since: relay.stream_windows(s, 50)[0].toArrow()
        )
        assert table.num_rows > 0 and jobs == 1, (since, jobs)
    table, jobs, stages = count_jobs(
        spark, "serve-stream-4096", lambda: relay.stream(scns[1], size_bytes=4096).toArrow()
    )
    assert table.num_rows > 0 and (jobs, stages) == (1, 1)

    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(log)
    keys = [tuple(r) for r in log.select("source", "key_str").distinct().limit(8).collect()]
    frames = {
        "pandas": (spark.createDataFrame(pd.DataFrame(keys, columns=["source", "key_str"])), 1),
        "rows": (spark.createDataFrame(keys, "source string, key_str string"), 2),
    }
    for name, (frame, want) in frames.items():
        for attempt in ("cold", "warm"):
            _, jobs, _ = count_jobs(
                spark, f"serve-lookup-{name}-{attempt}", lambda f=frame: store.lookup(f).toArrow()
            )
            assert jobs == want, (name, attempt, jobs)


def test_lookup_matches_semi_join(spark, tmp_path):
    """The key filter returns what a left-semi join of the live state
    with the keys returns, on a folded version and on one with pending
    deltas: a key given twice once, an absent key nothing, a key with a
    null component nothing, Python ints against a long key column, and
    past the In-to-InSet threshold."""
    schema = "source string, k long, scn long, opcode string, payload string"
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "k"), n_buckets=4)
    batches = [
        [("s", i, i + 1, "UPSERT", f"a{i}") for i in range(40)] + [("t", 2, 50, "UPSERT", "t2")],
        [("s", i, 100 + i, "UPSERT", f"b{i}") for i in range(0, 40, 3)]
        + [("s", 4, 200, "DELETE", None)],
    ]
    cases = {
        "duplicate": [("s", 3), ("s", 3), ("t", 2)],
        "absent": [("s", 999), ("u", 1)],
        "null component": [("s", None), (None, 5), ("s", 6)],
        "many": [("s", i) for i in range(0, 40, 2)] + [("s", 0)],
    }
    for batch in batches:
        store.merge(spark.createDataFrame(batch, schema))
        live = store.read()
        for name, keys in cases.items():
            frame = spark.createDataFrame(keys, ["source", "k"])
            assert frame.schema["k"].dataType == LongType()
            got = store.lookup(frame)
            want = live.join(frame, ["source", "k"], "left_semi")
            assert sorted(got.collect()) == sorted(want.collect()), name
            if name == "many":
                plan = got._jdf.queryExecution().optimizedPlan().toString()
                assert "INSET" in plan, plan
    assert store.lookup(spark.createDataFrame([("t", 2)], ["source", "k"])).count() == 1


def test_lookup_timestamp_keys_round_trip_exactly(spark, tmp_path):
    """A timestamp key is matched to the microsecond."""
    stamps = [datetime.datetime(2024, 1, 1, 0, 0, 0, 123456 + i) for i in range(3)]
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("ts",), n_buckets=2)
    store.merge(spark.createDataFrame(
        [(t, i + 1, "UPSERT") for i, t in enumerate(stamps)], "ts timestamp, scn long, opcode string"
    ))
    got = store.lookup(spark.createDataFrame([(stamps[1],)], "ts timestamp")).collect()
    assert [r["ts"] for r in got] == [stamps[1]]
