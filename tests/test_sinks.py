"""Sink-layer unit tests: K6 connect retry/backoff (reference
pipeline.py:59-82) and the DB-API upsert path with an injected
connector (no live MySQL in CI)."""

import datetime as dt
import hashlib
import os
from pathlib import Path

import pytest

from data_pipeline_project_spark.sinks.sinks import (
    AGG_TABLE_DDL,
    RAW_TABLE_DDL,
    JdbcUpsertSink,
    ParquetUpsertSink,
    bootstrap_database,
    connect_with_retry,
)


def test_connect_with_retry_succeeds_on_third_attempt():
    calls, sleeps = [], []

    def connect():
        calls.append(1)
        if len(calls) < 3:
            raise ConnectionError("down")
        return "conn"

    out = connect_with_retry(connect, retry_count=3, delay=5.0, sleep=sleeps.append)
    assert out == "conn"
    assert len(calls) == 3
    assert sleeps == [5.0, 5.0]  # reference's 5 s delay between attempts


def test_connect_with_retry_exhausts_and_raises():
    sleeps = []

    def connect():
        raise ConnectionError("still down")

    with pytest.raises(ConnectionError):
        connect_with_retry(connect, retry_count=3, delay=5.0, sleep=sleeps.append)
    assert sleeps == [5.0, 5.0]  # no sleep after the final attempt


def test_bootstrap_database_runs_ddl_with_retry():
    """K8 — the DDL bootstrap entry point executes both CREATE TABLE
    statements over a retried connection (reference
    setup_database_in_mysql.py:58-103 + the K6 connect loop)."""
    attempts, executed, state = [], [], {"committed": False, "closed": False}

    class FakeCursor:
        def execute(self, sql):
            executed.append(sql)

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def commit(self):
            state["committed"] = True

        def close(self):
            state["closed"] = True

    def flaky_connect(**kwargs):
        attempts.append(kwargs)
        if len(attempts) < 2:
            raise ConnectionError("db warming up")
        return FakeConn()

    bootstrap_database(
        flaky_connect,
        connect_kwargs={"host": "fake"},
        retry_count=3,
        retry_delay=0.0,
    )
    assert len(attempts) == 2 and attempts[0] == {"host": "fake"}
    assert executed == [RAW_TABLE_DDL, AGG_TABLE_DDL]
    assert "CREATE TABLE IF NOT EXISTS raw_sensor_data" in executed[0]
    assert state == {"committed": True, "closed": True}


def test_jdbc_upsert_retries_flaky_connection(spark, tmp_path):
    """K6 end-to-end: the per-partition writer survives two failed
    connects (succeeding on attempt 3) and still delivers every row.

    The fakes are defined in-function so cloudpickle serializes them by
    value into Spark's Python workers; counters are file-backed so the
    state survives the process boundary."""
    attempts = str(tmp_path / "attempts")
    rows_out = str(tmp_path / "rows")

    class FakeCursor:
        def __init__(self, rows_file):
            self.rows_file = rows_file

        def executemany(self, sql, batch):
            with open(self.rows_file, "a") as fh:
                for row in batch:
                    fh.write(repr(row) + "\n")

    class FakeConn:
        def __init__(self, rows_file):
            self.rows_file = rows_file

        def cursor(self):
            return FakeCursor(self.rows_file)

        def commit(self):
            pass

        def rollback(self):
            pass

        def close(self):
            pass

    class Flaky:
        """Fails the first ``fail_n`` connects, then records rows."""

        def __init__(self, attempts_file, rows_file, fail_n=2):
            self.attempts_file = attempts_file
            self.rows_file = rows_file
            self.fail_n = fail_n

        def __call__(self, **kwargs):
            with open(self.attempts_file, "a") as fh:
                fh.write("x")
            if os.path.getsize(self.attempts_file) <= self.fail_n:
                raise ConnectionError("db down")
            return FakeConn(self.rows_file)

    sink = JdbcUpsertSink(
        connect_kwargs={"host": "fake"},
        table="aggregated_sensor_data",
        keys=["sensor_id"],
        update_cols=["avg_value"],
        retry_count=3,
        retry_delay=0.01,
        connect_fn=Flaky(attempts, rows_out, fail_n=2),
    )
    df = spark.createDataFrame(
        [("S1", 1.0), ("S2", 2.0)], ["sensor_id", "avg_value"]
    ).coalesce(1)
    sink.write(df)
    assert os.path.getsize(attempts) == 3  # 2 failures + 1 success
    with open(rows_out) as fh:
        assert len(fh.readlines()) == 2


# ---- ORC sink/source roundtrip ---------------------------------------------

def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC append sink: content-identical roundtrip, partition pruning,
    and predicate pushdown into the ORC scan."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.sinks import OrcAppendSink
    from tests.conftest import SF_SMALL

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").limit(2000)
    path = str(tmp_path / "orc_lineitem")
    OrcAppendSink(path, partition_by=["l_returnflag"]).write(li)

    back = spark.read.orc(path)
    assert sorted(c for c in back.columns) == sorted(li.columns)
    a = sorted(map(tuple, li.select(*sorted(li.columns)).collect()))
    b = sorted(map(tuple, back.select(*sorted(li.columns)).collect()))
    assert a == b

    q = back.where((F.col("l_returnflag") == "A") & (F.col("l_quantity") > 25)).select(
        "l_orderkey", "l_quantity"
    )
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]" in plan, plan
    # partition filter pruned at planning, not scanned
    assert "l_returnflag" not in plan.split("PushedFilters")[1].split("]")[0], plan


# ---- Parquet upsert sink ----------------------------------------------------

UPSERT_KEYS = ["sensor_id", "file_name", "metric_name", "aggregation_time"]
UPSERT_SCHEMA = (
    "sensor_id string, file_name string, metric_name string, "
    "aggregation_time timestamp, avg_value double"
)
T0 = dt.datetime(2025, 5, 26, 10, 0)


def _upsert_rows(spec):
    """(sensor, file, metric, value) tuples -> rows at aggregation_time T0."""
    return [(s, f, m, T0, v) for s, f, m, v in spec]


def _files(root: Path) -> dict:
    """Every data file under ``root``: relative path -> content hash."""
    return {
        str(f.relative_to(root)): hashlib.md5(f.read_bytes()).hexdigest()
        for f in root.rglob("*.parquet")
    }


def _table(spark, path):
    return sorted(
        (r.sensor_id, r.file_name, r.metric_name, r.avg_value)
        for r in spark.read.parquet(path).collect()
    )


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_upsert_merge_matches_last_write_wins_model(spark, tmp_path):
    """One write touching an existing partition (its keys replaced, a
    key added), a new partition and an existing partition whose name
    Hive escapes equals a last-write-wins model; the untouched
    partition's files stay byte-identical."""
    path = tmp_path / "agg"
    sink = ParquetUpsertSink(str(path), keys=UPSERT_KEYS, partition_by=["file_name"])
    first = [
        ("S1", "f1.csv", "temperature", 1.0),
        ("S1", "f1.csv", "humidity", 2.0),
        ("S2", "f2.csv", "temperature", 3.0),
        ("S1", "a:b%1.csv", "temperature", 4.0),
        ("S2", "a:b%1.csv", "temperature", 5.0),
    ]
    second = [
        ("S1", "f1.csv", "temperature", 10.0),  # replaces
        ("S2", "f1.csv", "temperature", 11.0),  # new key, existing partition
        ("S3", "f3.csv", "pressure", 12.0),  # new partition
        ("S1", "a:b%1.csv", "temperature", 14.0),  # replaces, escaped partition
    ]
    model = {}
    for batch in (first, second):
        sink.write(spark.createDataFrame(_upsert_rows(batch), UPSERT_SCHEMA))
        model.update({(s, f, m): v for s, f, m, v in batch})
        if batch is first:
            assert (path / "file_name=a%3Ab%251.csv").is_dir()
            untouched = _files(path / "file_name=f2.csv")
            assert untouched

    assert _table(spark, str(path)) == sorted((*k, v) for k, v in model.items())
    assert _files(path / "file_name=f2.csv") == untouched


@pytest.mark.parametrize("partition_by", [(), ("file_name",)], ids=["flat", "partitioned"])
def test_upsert_read_error_propagates_and_table_is_unchanged(
    spark, tmp_path, monkeypatch, partition_by
):
    """A failing read of the existing table is an error, never "no
    table yet": the write raises and no file of the table changes."""
    path = tmp_path / "agg"
    sink = ParquetUpsertSink(str(path), keys=UPSERT_KEYS, partition_by=partition_by)
    sink.write(spark.createDataFrame(
        _upsert_rows([("S1", "f1.csv", "temperature", 1.0)]), UPSERT_SCHEMA
    ))
    before = _files(path)
    assert before

    def broken(self, *paths, **options):
        raise OSError("storage unavailable")

    monkeypatch.setattr(type(spark.read), "parquet", broken)
    batch = spark.createDataFrame(
        _upsert_rows([("S1", "f1.csv", "temperature", 2.0)]), UPSERT_SCHEMA
    )
    with pytest.raises(OSError, match="storage unavailable"):
        sink.write(batch)
    monkeypatch.undo()
    assert _files(path) == before
    assert _table(spark, str(path)) == [("S1", "f1.csv", "temperature", 1.0)]


def test_upsert_evaluates_batch_once_within_job_budget(spark, tmp_path):
    """The write evaluates its batch once and never lists or infers the
    whole table: a write to a fresh table and a write touching one
    existing partition of a table with 40 partitions (above the
    parallel-listing threshold of 32) keep their job counts."""
    path = tmp_path / "agg"
    sink = ParquetUpsertSink(str(path), keys=UPSERT_KEYS, partition_by=["file_name"])
    table = _upsert_rows([("S1", f"f{i:02d}.csv", "temperature", float(i)) for i in range(40)])
    evaluated = spark.sparkContext.accumulator(0)

    def counted(row):
        evaluated.add(1)
        return row

    batch = spark.createDataFrame(
        spark.sparkContext.parallelize(table, 4).map(counted), UPSERT_SCHEMA
    )
    before = _jobs(spark)
    sink.write(batch)
    fresh_jobs = _jobs(spark) - before
    assert evaluated.value == len(table)

    before = _jobs(spark)
    sink.write(spark.createDataFrame(
        _upsert_rows([("S1", "f00.csv", "temperature", -1.0)]), UPSERT_SCHEMA
    ))
    existing_jobs = _jobs(spark) - before

    # fresh: collect the partition values, write; existing: also read
    # the touched partition, merge and materialise the result
    assert fresh_jobs <= 4, fresh_jobs
    assert existing_jobs <= 7, existing_jobs
    assert len(_table(spark, str(path))) == 40
