"""REAL JDBC txlog puller (S1/S2, the `spark.read.jdbc` ingest path).

`SqlTxlogPuller` proves the reference's SQL shapes against DuckDB via
an Arrow executor; this module runs the SAME poll/commit protocol
through Spark's actual JDBC source — executor-side partitioned range
scans (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`),
exactly how a cluster would drain a JDBC-reachable transaction log
(reference: OracleTxlogEventReader.generateEventQuery,
databus2-relay-impl/.../db/OracleTxlogEventReader.java:613-723;
max-SCN probe :784-810).

The test database is embedded Apache Derby — the JDBC engine Spark
already ships for its Hive metastore — seeded through `df.write.jdbc`
(also the real JDBC write path). The registry's `jdbc_txlog_pull`
seeds an in-JVM memory database (`jdbc:derby:memory:<name>;create=true`,
named by the content fingerprint) once per process, so concurrent
processes never contend for one on-disk database; in local mode the
executors share that JVM and so see the same database. No extra jars,
no network listener; on a cluster only the URL changes.

Chunking is keyset + txn-atomic, identical to SqlTxlogPuller: the
boundary probe takes the scn of the chunk_rows-th candidate row
(`ORDER BY scn FETCH FIRST n ROWS ONLY` — Derby has no LIMIT), and
the pull reads `scn > last AND scn <= boundary`, so all rows of one
transaction always travel in one chunk.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from databus_spark.sources.incremental import FileMaxSCNHandler

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@dataclass(frozen=True)
class JdbcDialect:
    """SQL-surface differences between txlog host databases.

    The poll/commit protocol (keyset boundary probe + txn-atomic range
    pull) is dialect-independent; what varies is identifier quoting, the
    row-limit syntax of the boundary probe, and the optimizer hint the
    reference injects on Oracle (OracleTxlogEventReader.java:683-723
    builds `/*+ ... */` hinted queries). Derby stays the executable test
    dialect — Oracle/MySQL differ only in the strings produced here, so
    their shims are unit-testable without driver jars.
    """

    name: str
    quote_char: str = '"'
    hint: str = ""  # injected right after SELECT in the boundary probe

    def quote(self, ident: str) -> str:
        return f"{self.quote_char}{ident}{self.quote_char}"

    def select_head(self) -> str:
        return f"SELECT {self.hint} ".replace("  ", " ") if self.hint else "SELECT "

    def limited(self, body: str, n: int) -> str:
        """Wrap/suffix an ORDER BY'd SELECT body to return at most n rows
        (ANSI FETCH FIRST; subclass-by-instance overrides below)."""
        return f"{body} FETCH FIRST {int(n)} ROWS ONLY"


@dataclass(frozen=True)
class MySqlDialect(JdbcDialect):
    name: str = "mysql"
    quote_char: str = "`"

    def limited(self, body: str, n: int) -> str:
        return f"{body} LIMIT {int(n)}"


@dataclass(frozen=True)
class OracleDialect(JdbcDialect):
    """Oracle pre-12c has no FETCH FIRST: the bounded probe is a ROWNUM
    wrap, and the event query carries the reference's FIRST_ROWS hint."""

    name: str = "oracle"
    hint: str = "/*+ FIRST_ROWS */"

    def limited(self, body: str, n: int) -> str:
        return f"SELECT * FROM ({body}) WHERE ROWNUM <= {int(n)}"


DERBY_DIALECT = JdbcDialect(name="derby")
MYSQL_DIALECT = MySqlDialect()
ORACLE_DIALECT = OracleDialect()


class JdbcTxlogPuller:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        scn_handler: FileMaxSCNHandler,
        scn_col: str = "scn",
        chunk_rows: int = 10_000,
        columns: str = "*",
        driver: str = DERBY_DRIVER,
        n_partitions: int = 4,
        dialect: JdbcDialect = DERBY_DIALECT,
    ) -> None:
        self.spark = spark
        self.url = url
        self.table = table
        self.scn_handler = scn_handler
        self.scn_col = scn_col
        self.chunk_rows = chunk_rows
        self.columns = columns
        self.driver = driver
        self.n_partitions = n_partitions
        self.dialect = dialect
        self._pending_scn: int | None = None

    # -- plumbing -------------------------------------------------------------
    def _read_query(self, query: str) -> DataFrame:
        """One JDBC query as a single-partition read (probes only —
        the event pull below uses the partitioned form)."""
        return (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("driver", self.driver)
            .option("dbtable", f"({query}) probe")
            .load()
        )

    # -- probes ---------------------------------------------------------------
    @property
    def _qscn(self) -> str:
        # Spark's JDBC writer creates columns QUOTED (case-sensitive in
        # Derby), so hand-written SQL must quote them the same way.
        return self.dialect.quote(self.scn_col)

    def max_scn_sql(self) -> str:
        return (
            f"{self.dialect.select_head()}max({self._qscn}) AS m FROM {self.table}"
        )

    def chunk_boundary_sql(self, last: int) -> str:
        inner = self.dialect.limited(
            f"{self.dialect.select_head()}{self._qscn} AS s FROM {self.table} "
            f"WHERE {self._qscn} > {int(last)} "
            f"ORDER BY {self._qscn}",
            self.chunk_rows,
        )
        return f"SELECT max(s) AS b FROM ({inner}) cand"

    def chunk_pull_sql(self, last: int, boundary: int) -> str:
        return (
            f"{self.dialect.select_head()}{self.columns} FROM {self.table} "
            f"WHERE {self._qscn} > {int(last)} "
            f"AND {self._qscn} <= {int(boundary)}"
        )

    def probe_max_scn(self) -> int:
        df = self._read_query(self.max_scn_sql())
        v = df.collect()[0][0]
        return -1 if v is None else int(v)

    def _chunk_boundary(self, last: int) -> int | None:
        """scn of the chunk_rows-th candidate row — txn-atomic upper
        bound (keyset probe; row-limit syntax is dialect-specific)."""
        df = self._read_query(self.chunk_boundary_sql(last))
        v = df.collect()[0][0]
        return None if v is None else int(v)

    # -- pulls ----------------------------------------------------------------
    def poll(self) -> DataFrame | None:
        """One chunk as a PARTITIONED JDBC read: Spark plans
        n_partitions range slices of (last, boundary] and each executor
        issues its own remote WHERE-clause scan — the cluster ingest
        shape the reference's single-threaded poller cannot do."""
        last = self.scn_handler.read()
        boundary = self._chunk_boundary(last)
        if boundary is None:
            return None
        df = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("driver", self.driver)
            .option("dbtable", f"({self.chunk_pull_sql(last, boundary)}) chunk")
            .option("partitionColumn", self.scn_col)
            .option("lowerBound", int(last) + 1)
            .option("upperBound", int(boundary) + 1)
            .option("numPartitions", self.n_partitions)
            .load()
        )
        self._pending_scn = boundary
        return df

    def commit(self) -> None:
        if self._pending_scn is not None:
            self.scn_handler.write(self._pending_scn)
            self._pending_scn = None

    def drain(self, sink) -> int:
        """At-least-once chunk loop; commit only after the sink lands."""
        cycles = 0
        while True:
            batch = self.poll()
            if batch is None:
                return cycles
            sink(batch)
            self.commit()
            cycles += 1


def seed_jdbc_table(
    df: DataFrame,
    url: str,
    table: str,
    driver: str = DERBY_DRIVER,
    index_col: str | None = "scn",
) -> None:
    """Seed the txlog database through Spark's real JDBC WRITE path
    (executor-side batched INSERTs; Derby creates the table), then
    index the SCN column — the range scans the puller issues must be
    index scans, not per-chunk full table scans (the reference's txlog
    table is likewise SCN-indexed)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .mode("overwrite")
        .save()
    )
    if index_col is not None:
        jvm = df.sparkSession._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            stmt = conn.createStatement()
            # Spark's JDBC writer creates quoted (case-sensitive) columns
            stmt.execute(f'CREATE INDEX {table}_scn_idx ON {table} ("{index_col}")')
            stmt.close()
        finally:
            conn.close()
