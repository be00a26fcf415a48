"""Driver-built tables and the Spark jobs of the audit path.

* ``driver_table`` (Arrow) builds the same DataFrame as
  ``createDataFrame(list, schema)`` for every schema the library hands
  it, nulls, ``array<float>`` and empty input included, and a stored
  ``save_run(now=...)`` date does not shift for tz-aware or naive input.
* ``save_run`` then ``reject_exceptions`` + ``recalculate_match_rate``
  stay under a job ceiling, counted with Spark job tags the way
  ``perfbench/spans.py`` scopes its spans.
* ``dense_sorted_index`` numbers rows inside its range partitions: no
  hash re-shuffle on the partition id.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import time
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from data_reconciliation_spark.operators.reconcile import reconcile
from data_reconciliation_spark.session import driver_table
from data_reconciliation_spark.sources.state import AuditStore, dense_sorted_index

# (schema, rows) for every driver-side table the library builds
LIBRARY_TABLES = {
    "pair_fanout lineage": (
        "row_count long, iteration int, stage string",
        [(3, 0, "pair_fanout"), (None, None, None)],
    ),
    "audit run header": (
        "run_id string, date timestamp, match_rate double, "
        "system_name string, num_exceptions long, primary_key_used string",
        [
            ("r1", datetime(2025, 7, 9, 12, 30, 1, 5, tzinfo=timezone.utc), 55.56,
             "sys", 8, "id"),
            ("r2", datetime(2025, 7, 9, 12, 30), None, None, None, None),
        ],
    ),
    "rejections": ("run_id string, exc_idx long", [("r1", 0), ("r1", 2**40)]),
    "csv/xlsx upload rows": (
        "`ID` long, `Price` double, `Name` string",
        [(1, 2.5, "a"), (None, None, None), (2, None, "")],
    ),
    "a1 metrics row": (
        "n_both long, n_old_only long, n_new_only long, field_exceptions long, "
        "match_pct double",
        [(10, 1, 2, 3, 70.0)],
    ),
    "ivf centroids": (
        "centroid_id long, __cvec array<float>",
        [(0, [0.5, -1.25, 3.0]), (1, None), (2, []), (3, [None, 1.0])],
    ),
    "uniqueness profile": (
        "column string, distinct_count long, row_count long, is_unique boolean",
        [("id", 5, 5, True), ("name", 4, 5, False)],
    ),
    "sessionizer lineage": (
        "query_id string, iteration int, stage string, evicted_sessions long, "
        "closed_sessions long",
        [("q", 0, "sessionizer", 0, 7)],
    ),
    "empty closure": ("node string, component string", []),
}


@pytest.mark.parametrize("name", sorted(LIBRARY_TABLES))
def test_driver_table_matches_list_path(spark, name):
    schema, rows = LIBRARY_TABLES[name]
    want = spark.createDataFrame(rows, schema)
    got = driver_table(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    for empty in (driver_table(spark, [], schema), spark.createDataFrame([], schema)):
        assert empty.schema == want.schema and empty.collect() == []


@contextlib.contextmanager
def _process_tz(tz: str):
    """Run the block with the Python process in time zone ``tz``: a naive
    datetime is read as process-local time."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_save_run_date_does_not_shift(spark, tmp_path, tz):
    exceptions = spark.createDataFrame([(1, "f")], "id long, field string")
    aware = datetime(2025, 7, 9, 23, 30, 15, 123456, tzinfo=timezone(timedelta(hours=5)))
    naive = datetime(2025, 7, 9, 23, 30, 15, 123456)
    with _process_tz(tz):
        store = AuditStore(spark, str(tmp_path / "audit"))
        ids = {
            store.save_run("aware", 1.0, exceptions, "id", now=aware): aware,
            store.save_run("naive", 1.0, exceptions, "id", now=naive): naive,
        }
        # what the list path stores for the same values
        expect = {
            r["run_id"]: r["date"]
            for r in spark.createDataFrame(
                list(ids.items()), "run_id string, date timestamp"
            ).collect()
        }
        got = {r["run_id"]: r["date"] for r in store.read_runs().collect()}
        # collect() returns process-local naive datetimes; a naive
        # datetime's timestamp() reads it as process-local time too
        got_instants = {k: v.timestamp() for k, v in got.items()}
        want_instants = {k: v.timestamp() for k, v in ids.items()}
    assert got == expect
    assert got_instants == want_instants


def _jobs(spark, fn):
    """(result, jobs) of ``fn()``: its jobs are found by a Spark job tag,
    which broadcast and subquery threads inherit."""
    sc = spark.sparkContext
    tag = f"audit-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    return out, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_audit_path_job_counts(spark, tmp_path):
    base = spark.range(4000).select(
        F.col("id"),
        (F.col("id") % 97).cast("string").alias("name"),
        (F.col("id") * 1.5).alias("price"),
    )
    new = base.withColumn(
        "price", F.when(F.col("id") % 3 == 0, F.col("price") + 1).otherwise(F.col("price"))
    )
    res = reconcile(base, new, ["id"], {"fields": {"price": {"type": "decimal", "tolerance": 0.5}}})
    store = AuditStore(spark, str(tmp_path / "audit"))
    run_id, save_jobs = _jobs(
        spark, lambda: store.save_run("sys", res.match_pct, res.exceptions, "id")
    )

    def review():
        store.reject_exceptions(run_id, list(range(100)))
        return store.recalculate_match_rate(run_id)

    out, review_jobs = _jobs(spark, review)
    res.release()
    assert out == {
        "original_exceptions": 1334,
        "rejected_exceptions": 100,
        "remaining_exceptions": 1234,
        "new_match_rate": round(100 * 100 / 1334, 2),
    }
    # save: range sampling, one count aggregation over the persisted
    # range partitions, the header write and the exception write.
    # review: the rejection write, the schema jobs of the two table
    # reads and one aggregation.
    assert save_jobs <= 7, save_jobs
    assert review_jobs <= 6, review_jobs


def test_dense_sorted_index_no_pid_exchange(spark):
    df = spark.range(500).select(
        (F.col("id") * 7 % 500).alias("k"), F.lit("x").alias("v")
    )
    out = dense_sorted_index(df, "exc_idx", num_partitions=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # rows are numbered inside their range partitions, not re-shuffled
    assert not re.search(r"hashpartitioning\(__pid", plan), plan
    assert "BroadcastHashJoin" not in plan, plan  # no offsets-table join
    assert [r["exc_idx"] for r in out.orderBy("exc_idx").collect()] == list(range(500))
    assert out._dsi_total == 500
