"""Catalog MERGE path: probe, SQL-text generation validated by Spark's own
parser, and merge semantics proven against a second engine (DuckDB
DELETE+INSERT upsert transaction) including rerun idempotency."""

from __future__ import annotations

import duckdb
import pytest

from ispaq_spark.catalog import (
    CatalogMergeSink,
    dataframe_merge,
    merge_into_sql,
    probe_table_catalog,
)

KEYS = ["target", "start", "end"]

TARGET_ROWS = [
    ("m1", 0, 10, 1.0, "r1"),
    ("m1", 10, 20, 2.0, "r1"),
    ("m2", 0, 10, 3.0, "r1"),
]
BATCH_ROWS = [
    ("m1", 10, 20, 9.5, "r2"),  # matched: update
    ("m3", 0, 10, 7.0, "r2"),   # not matched: insert
]
SCHEMA = "target string, start int, end int, value double, run string"


def test_probe_reports_runtime_state():
    probe = probe_table_catalog()
    # In this container neither runtime ships; the probe must say so with
    # a reason rather than letting a sink silently no-op. (On a cluster
    # with the jars present, `reason` is None and the sink constructs.)
    assert probe["iceberg"] is False and probe["delta"] is False
    assert "no iceberg/delta runtime jar" in probe["reason"]


def test_sink_refuses_without_runtime(spark):
    with pytest.raises(RuntimeError, match="no table-format runtime"):
        CatalogMergeSink(spark, "metrics")


def test_merge_sql_parses_under_spark(spark):
    """The generated MERGE must be a statement Spark's parser accepts —
    the exact text a catalog-enabled session would execute."""
    sql = merge_into_sql("metrics", "updates", KEYS, ["value", "run"])
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    assert "MergeIntoTable" in plan.getClass().getSimpleName() or (
        "Merge" in plan.toString()
    )


def test_merge_sql_shape():
    sql = merge_into_sql("metrics", "updates", KEYS, ["value"])
    assert "MERGE INTO metrics t" in sql
    assert "t.target = s.target AND t.start = s.start AND t.end = s.end" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.value = s.value" in sql
    assert (
        "WHEN NOT MATCHED THEN INSERT (target, start, end, value) "
        "VALUES (s.target, s.start, s.end, s.value)" in sql
    )


def _duckdb_upsert(target_rows, batch_rows):
    """The engine-level MERGE contract as a DELETE+INSERT transaction —
    what MERGE INTO compiles to for a pure upsert."""
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t(target VARCHAR, start INT, \"end\" INT, "
        "value DOUBLE, run VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", target_rows)
    con.sql(
        "CREATE TABLE s(target VARCHAR, start INT, \"end\" INT, "
        "value DOUBLE, run VARCHAR)"
    )
    con.executemany("INSERT INTO s VALUES (?, ?, ?, ?, ?)", batch_rows)
    con.sql("BEGIN")
    con.sql(
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM s WHERE "
        's.target = t.target AND s.start = t.start AND s."end" = t."end")'
    )
    con.sql("INSERT INTO t SELECT * FROM s")
    con.sql("COMMIT")
    return sorted(tuple(r) for r in con.sql("SELECT * FROM t").fetchall())


def test_dataframe_merge_matches_duckdb_and_is_idempotent(spark):
    target = spark.createDataFrame(TARGET_ROWS, SCHEMA)
    batch = spark.createDataFrame(BATCH_ROWS, SCHEMA)

    merged = dataframe_merge(target, batch, KEYS)
    got = sorted(tuple(r) for r in merged.collect())
    want = _duckdb_upsert(TARGET_ROWS, BATCH_ROWS)
    assert got == want
    assert len(got) == 4  # 2 untouched + 1 updated + 1 inserted

    # Rerunning the SAME batch against the merged state changes nothing —
    # the reference's rerun-a-day contract (ispaq/utils.py:157-272).
    again = dataframe_merge(merged, batch, KEYS)
    assert sorted(tuple(r) for r in again.collect()) == got


class _RecordingSink(CatalogMergeSink):
    """CatalogMergeSink with the runtime probe bypassed and spark.sql
    recorded — lets the statement SEQUENCE the sink would send a real
    catalog be asserted in a container that ships no catalog jar."""

    def __init__(self, spark, table):  # noqa: D401 — test double
        self.spark = _SqlRecorder(spark)
        self.table = table
        self.key_cols = ["target", "start", "end"]


class _SqlRecorder:
    def __init__(self, spark):
        self._spark = spark
        self.statements: list[str] = []

    def sql(self, stmt: str):
        self.statements.append(stmt)  # do not execute: no catalog here

    @property
    def catalog(self):
        return self._spark.catalog

    @property
    def sparkContext(self):
        return self._spark.sparkContext


def test_catalog_merge_replaces_batch_ds_partitions(spark):
    """MetricSink.merge must REPLACE the batch's ds partitions ATOMICALLY:
    one MERGE statement whose WHEN NOT MATCHED BY SOURCE clause deletes
    exactly the batch's ds values (a key-grain MERGE alone strands rows
    that vanished from a recomputed day; a separate DELETE-then-MERGE
    leaves a deleted-and-empty day if the MERGE fails), registered under a
    per-call unique view name."""
    batch = spark.createDataFrame(
        [("2024-01-01", "m1", 0, 10, 1.0)],
        "ds string, target string, start int, end int, value double",
    )
    sink = _RecordingSink(spark, "cat.metrics")
    sink.merge(batch)
    stmts = sink.spark.statements
    assert len(stmts) == 1  # one atomic commit — no separate DELETE
    merge = stmts[0]
    # the replace is scoped to the batch's literal ds values, collected
    # once from a pinned materialization of the batch
    assert (
        "WHEN NOT MATCHED BY SOURCE AND (t.ds IN ('2024-01-01')) "
        "THEN DELETE" in merge
    )
    assert "MERGE INTO cat.metrics" in merge
    # ds joins the MERGE key (a cross-partition MATCH must be impossible)
    assert "t.ds = s.ds" in merge.split("WHEN MATCHED")[0]
    assert "SET t.ds" not in merge  # ds is a key, never an updated value
    view = merge.split("USING ")[1].split()[0]
    assert view.startswith("_ispaq_merge_batch_") and len(view) > 25
    # the temp view is dropped after the statements run
    assert not any(
        v.name == view for v in spark.catalog.listTables() if v.isTemporary
    )

    # a second merge must use a DIFFERENT view name (concurrency safety)
    sink2 = _RecordingSink(spark, "cat.metrics")
    sink2.merge(batch)
    view2 = sink2.spark.statements[0].split("USING ")[1].split()[0]
    assert view2 != view


def test_merge_sql_with_replace_scope_parses_under_spark(spark):
    """The atomic partition-replace MERGE (WHEN NOT MATCHED BY SOURCE ...
    THEN DELETE) must be a statement Spark's parser accepts — the exact
    text a catalog-enabled session would execute."""
    sql = merge_into_sql(
        "metrics",
        "updates",
        ["ds"] + KEYS,
        ["value", "run"],
        replace_scope=("ds", ["2024-01-01", "2024-01-02"]),
    )
    assert (
        "WHEN NOT MATCHED BY SOURCE AND (t.ds IN "
        "('2024-01-01', '2024-01-02')) THEN DELETE" in sql
    )
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    assert "MergeIntoTable" in plan.getClass().getSimpleName() or (
        "Merge" in plan.toString()
    )


def test_merge_sql_replace_scope_null_and_backslash_values(spark):
    """Hostile partition values in the replace scope: a NULL ds becomes an
    IS NULL branch (IN () never matches NULL — its stale rows would
    silently survive the replace), and a value ending in a backslash must
    not escape the closing quote under Spark's default backslash-escaped
    string literals. Both statements must still parse."""
    sql = merge_into_sql(
        "metrics",
        "updates",
        ["ds"] + KEYS,
        ["value", "run"],
        replace_scope=("ds", ["2024-01-01", None]),
    )
    assert (
        "WHEN NOT MATCHED BY SOURCE AND (t.ds IN ('2024-01-01') "
        "OR t.ds IS NULL) THEN DELETE" in sql
    )
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(sql)

    sql2 = merge_into_sql(
        "metrics",
        "updates",
        ["ds"] + KEYS,
        ["value", "run"],
        replace_scope=("ds", ["2024\\", "it's"]),
    )
    assert "t.ds IN ('2024\\\\', 'it''s')" in sql2
    parser.parsePlan(sql2)

    # all-NULL scope: pure IS NULL branch, no empty IN ()
    sql3 = merge_into_sql(
        "metrics",
        "updates",
        ["ds"] + KEYS,
        ["value", "run"],
        replace_scope=("ds", [None]),
    )
    assert "(t.ds IS NULL) THEN DELETE" in sql3
    assert "IN ()" not in sql3
    parser.parsePlan(sql3)


def test_catalog_merge_releases_checkpoint_blocks(spark):
    """merge() pins the batch with localCheckpoint for the statement's
    lifetime only: the checkpoint blocks must be unpersisted after the
    MERGE, or a per-day resumable ingest accumulates one materialized
    batch in executor storage per call for the whole session."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    batch = spark.createDataFrame(
        [("2024-01-01", "m1", 0, 10, 1.0)],
        "ds string, target string, start int, end int, value double",
    )
    sink = _RecordingSink(spark, "cat.metrics")
    sink.merge(batch)
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), "checkpoint blocks leaked"


def test_catalog_merge_tolerates_null_ds_batch(spark):
    """A batch containing a NULL ds must not crash the driver-side scope
    collection (None is unorderable against str) and must scope the
    replace with an IS NULL branch."""
    batch = spark.createDataFrame(
        [
            ("2024-01-01", "m1", 0, 10, 1.0),
            (None, "m2", 0, 10, 2.0),
        ],
        "ds string, target string, start int, end int, value double",
    )
    sink = _RecordingSink(spark, "cat.metrics")
    sink.merge(batch)
    merge = sink.spark.statements[0]
    assert (
        "WHEN NOT MATCHED BY SOURCE AND (t.ds IN ('2024-01-01') "
        "OR t.ds IS NULL) THEN DELETE" in merge
    )


def test_merge_execution_attempt_is_recorded_or_succeeds(spark, tmp_path):
    """Execute the generated MERGE against every table route this
    container offers, self-upgrading: in an environment whose catalog
    supports row-level operations the merge must actually run and the
    replace semantics are verified; in this container the attempt must be
    BLOCKED by Spark's own capability check with the exact
    UNSUPPORTED_FEATURE.TABLE_OPERATION error, recorded here as the
    reason the merge cannot run. Routes probed: (a) a Spark-managed
    parquet table in spark_catalog (V1 — no SupportsRowLevelOperations),
    (b) JDBCTableCatalog over the embedded Derby that ships with pyspark
    (V2, but row-level ops unimplemented). DuckDB 1.0.0 (the second
    engine) predates MERGE entirely (ParserException), so no engine in
    this container can execute one; the statement text itself is
    parser-validated above."""
    spark.sql("DROP TABLE IF EXISTS _merge_exec_probe")
    spark.sql(
        "CREATE TABLE _merge_exec_probe (ds STRING, target STRING, "
        "start INT, end INT, value DOUBLE) USING parquet"
    )
    spark.sql(
        "INSERT INTO _merge_exec_probe VALUES "
        "('d1', 'm1', 0, 10, 1.0), ('d1', 'mstale', 0, 10, 9.0)"
    )
    batch = spark.createDataFrame(
        [("d1", "m1", 0, 10, 2.0), ("d1", "m2", 0, 10, 3.0)],
        "ds string, target string, start int, end int, value double",
    )
    batch.createOrReplaceTempView("_merge_exec_src")
    stmt = merge_into_sql(
        "_merge_exec_probe",
        "_merge_exec_src",
        ["ds", "target", "start", "end"],
        ["value"],
        replace_scope=("ds", ["d1"]),
    )
    try:
        spark.sql(stmt)
        executed = True
    except Exception as ex:  # noqa: BLE001 — asserting the exact block
        executed = False
        msg = str(ex)
        assert "UNSUPPORTED_FEATURE.TABLE_OPERATION" in msg, msg
        assert "does not support MERGE INTO TABLE" in msg, msg
    if executed:
        # capability present (cluster with Iceberg/Delta/row-level V2):
        # verify the atomic replace semantics end to end
        got = sorted(
            tuple(r)
            for r in spark.table("_merge_exec_probe").collect()
        )
        assert got == [
            ("d1", "m1", 0, 10, 2.0),
            ("d1", "m2", 0, 10, 3.0),
        ]
    spark.sql("DROP TABLE IF EXISTS _merge_exec_probe")

    # route (b): V2 JDBCTableCatalog over the embedded Derby jar that
    # ships with pyspark — a real V2 catalog, but it does not implement
    # SupportsRowLevelOperations either; same exact capability error.
    spark.conf.set(
        "spark.sql.catalog._jdbcprobe",
        "org.apache.spark.sql.execution.datasources.v2.jdbc."
        "JDBCTableCatalog",
    )
    spark.conf.set(
        "spark.sql.catalog._jdbcprobe.url",
        f"jdbc:derby:{tmp_path}/_merge_probe_db;create=true",
    )
    spark.conf.set(
        "spark.sql.catalog._jdbcprobe.driver",
        "org.apache.derby.jdbc.EmbeddedDriver",
    )
    spark.sql(
        "CREATE TABLE _jdbcprobe.MT (ds STRING, target STRING, "
        "start INT, end INT, value DOUBLE)"
    )
    try:
        spark.sql(
            merge_into_sql(
                "_jdbcprobe.MT",
                "_merge_exec_src",
                ["ds", "target", "start", "end"],
                ["value"],
            )
        )
        jdbc_executed = True
    except Exception as ex:  # noqa: BLE001
        jdbc_executed = False
        msg = str(ex)
        assert "UNSUPPORTED_FEATURE.TABLE_OPERATION" in msg, msg
        assert "does not support MERGE INTO TABLE" in msg, msg
    if jdbc_executed:
        assert spark.table("_jdbcprobe.MT").count() == 2
