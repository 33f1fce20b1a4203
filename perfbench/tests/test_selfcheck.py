"""Self-tests of the benchmark's instruments: the Spark counter collector,
the DuckDB oracle gates, the seeded query tables and the span writer's
self-time arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import os
import time

import duckdb
from pyspark.sql import functions as F

import gate
import inputs
import querydata
import suite
from pocket_etl_spark.cdc.apply import apply_batch
from pocket_etl_spark.lake import ParquetLakeTable
from pocket_etl_spark.oracle import TESTDATA_TABLES
from sparkstats import SparkCounters, window_counters
from tracing import Span, Tracer, self_times, span_self_time
from workloads import Outcome


def _window(spark, action) -> dict:
    counters = SparkCounters(spark)
    t0 = time.time()
    action()
    t1 = time.time()
    counters.settle()
    return window_counters(counters.stages(), counters.job_submissions(), t0, t1)


def test_counters_see_shuffle_of_group_by_and_none_of_narrow_select(spark):
    wide = _window(
        spark,
        lambda: spark.range(200_000).groupBy((F.col("id") % 7).alias("k")).count().collect(),
    )
    assert wide["shuffle_write_bytes"] > 0
    assert wide["shuffle_read_bytes"] > 0
    assert wide["stages"] >= 2 and wide["tasks"] > 0
    narrow = _window(spark, lambda: spark.range(200_000).select((F.col("id") * 2).alias("x")).collect())
    assert narrow["shuffle_write_bytes"] == 0
    assert narrow["shuffle_read_bytes"] == 0
    assert narrow["stages"] >= 1


def _live(table):
    rows = gate.table_rows(table)
    return rows[~rows["deleted"]]


def test_oracle_gate_rejects_one_altered_content(spark, tmp_path):
    wal = inputs.write_events(str(tmp_path / "wal.parquet"), 1, 3001, seed=7, keys=400,
                              invalid_per_10k=50)
    table = ParquetLakeTable(spark, str(tmp_path / "table"), num_buckets=4)
    apply_batch(spark.read.parquet(wal), table, batch_id=0, dlq_path=str(tmp_path / "dlq"))
    oracle = gate.lww_oracle([wal])
    assert len(oracle) > 0
    assert gate.frame_problems(_live(table), oracle) == []

    rows = table.read().toPandas()
    rows.loc[0, "content"] = rows.loc[0, "content"] + " "
    table.overwrite(spark.createDataFrame(rows, schema=table.read().schema))
    assert gate.frame_problems(_live(table), oracle) != []
    assert gate.invalid_event_count([wal]) > 0


def test_query_tables_are_a_function_of_the_seed(tmp_path):
    def digest(seed, d):
        querydata.write_tables(str(d), seed)
        return {
            name: duckdb.sql(f"SELECT md5(string_agg(t::VARCHAR, '|' ORDER BY t::VARCHAR)) "
                                  f"FROM '{d}/{name}.parquet' t").fetchone()[0]
            for name in TESTDATA_TABLES
        }

    a, b, c = digest(3, tmp_path / "a"), digest(3, tmp_path / "b"), digest(4, tmp_path / "c")
    assert a == b
    assert all(a[name] != c[name] for name in querydata.SIZES)  # region, nation are fixed


def test_query_gate_rejects_one_altered_result(tmp_path):
    data = querydata.write_tables(str(tmp_path / "q"), 5)
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    right = con.sql(suite.ORACLE_SQL["cdc_lww_dedupe"]).df()
    wrong = right.copy()
    wrong.loc[0, "last_value"] += 0.01
    calls = [(1, "cdc_lww_dedupe", 0.0, 1.0, right), (2, "cdc_lww_dedupe", 1.0, 2.0, wrong),
             (3, "semi_join", 2.0, 3.0, "Traceback: raised")]
    out = Outcome()
    suite._gate(data, calls, out)
    assert (out.attempted, out.failed) == (3, 2)
    assert any("cdc_lww_dedupe pass 2" in p for p in out.problems)


def test_self_times_never_exceed_the_parent():
    tracer = Tracer()
    with tracer.span("parent", trace_id=1):
        time.sleep(0.01)
        with tracer.span("child"):
            time.sleep(0.02)
            with tracer.span("grandchild"):
                time.sleep(0.01)
        with tracer.span("child"):
            time.sleep(0.01)
    parent = next(s for s in tracer.spans if s.name == "parent")
    st = self_times(tracer.spans)
    assert all(v >= 0 for v in st.values())
    assert sum(st.values()) <= parent.duration + 1e-9
    assert {s.trace_id for s in tracer.spans} == {"1"}

    # children from other threads may overlap each other and outlive the parent
    p = Span(1, "p", 0.0, 10.0, None, "t")
    kids = [Span(2, "a", 1.0, 4.0, 1, "t"), Span(3, "b", 3.0, 6.0, 1, "t"),
            Span(4, "c", 9.0, 12.0, 1, "t")]
    assert span_self_time(p, kids) == 10.0 - 5.0 - 1.0


def test_tracer_wrap_is_undone(tmp_path):
    class Owner:
        def work(self, batch_id=None):
            return batch_id

    tracer = Tracer()
    original = Owner.work
    tracer.wrap(Owner, "work", "owner.work", trace_arg="batch_id",
                summarize=lambda r: {"result": r})
    assert Owner().work(batch_id=3) == 3
    tracer.uninstall()
    assert Owner.work is original
    [span] = tracer.spans
    assert (span.name, span.trace_id, span.attrs) == ("owner.work", "3", {"result": 3})
    out = tmp_path / "spans.json"
    tracer.write(str(out))
    assert os.path.getsize(out) > 0
