"""End-to-end replication pipeline tests: first-run full load,
incremental run, soft deletes, watermark advance, empty-delta
short-circuit, per-table error isolation — the reference main-loop
semantics (`/root/reference/scripts/03_cdc_etl.py:238-379`)."""

from __future__ import annotations

import datetime
import threading

import pytest
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog, TableMeta
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
    CdcPipeline,
    ParquetTargetStore,
)

TS = datetime.datetime
T1, T2, T3 = TS(2024, 1, 1), TS(2024, 1, 2), TS(2024, 1, 3)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("is_deleted", T.StringType(), False),
    ]
)


def build(spark, tmp, rows, table="t1", pk=("id",)):
    cat = Catalog(spark)
    cat.put(table, spark.createDataFrame(rows, SCHEMA), pk=list(pk))
    target = ParquetTargetStore(spark, f"{tmp}/target")
    wm = WatermarkStore(spark, f"{tmp}/wm")
    return cat, CdcPipeline(spark, cat, target, wm, max_parallel_tables=1)


def target_map(pipe, table="t1"):
    return {r["id"]: (r["val"], r["is_deleted"]) for r in pipe.target.read(table).collect()}


def test_first_run_full_load_drops_deleted(spark, tmp_path):
    rows = [
        (1, "a", T1, None, "N"),
        (2, "b", T1, None, "N"),
        (3, "c", T1, T2, "Y"),  # pre-deleted: never lands (insert gate)
    ]
    cat, pipe = build(spark, tmp_path, rows)
    rep = pipe.run()
    assert rep.exit_code == 0
    [res] = [r for r in rep.results if r.table == "t1"]
    assert res.status == "replicated"
    assert (res.inserted, res.updated, res.dropped_deletes) == (2, 0, 1)
    assert target_map(pipe) == {1: ("a", "N"), 2: ("b", "N")}
    assert pipe.watermarks.get("t1") == T2


def test_incremental_run_and_watermark(spark, tmp_path):
    rows = [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    assert pipe.watermarks.get("t1") == T1

    # second batch: update row 1, soft-delete row 2, insert row 4
    rows2 = rows + []
    cat.put(
        "t1",
        pipe.spark.createDataFrame(
            [
                (1, "a2", T1, T2, "N"),
                (2, "b", T1, T3, "Y"),
                (4, "d", T2, None, "N"),
                (9, "stale", T1, None, "N"),  # unchanged: below watermark
            ],
            SCHEMA,
        ),
        pk=["id"],
    )
    rep = pipe.run()
    [res] = [r for r in rep.results if r.table == "t1"]
    assert (res.inserted, res.updated) == (1, 2)
    assert target_map(pipe) == {1: ("a2", "N"), 2: ("b", "Y"), 4: ("d", "N")}
    assert pipe.watermarks.get("t1") == T3


def test_empty_delta_short_circuit(spark, tmp_path):
    rows = [(1, "a", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    rep2 = pipe.run()  # nothing changed since watermark
    [res] = [r for r in rep2.results if r.table == "t1"]
    assert res.status == "empty_delta"
    assert pipe.watermarks.get("t1") == T1  # unchanged


def test_skip_no_pk(spark, tmp_path):
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")], pk=())
    rep = pipe.run()
    assert rep.skipped == ["t1"]
    assert rep.exit_code == 0  # skip is not failure (reference logs + continues)


def test_missing_cdc_columns_fails_isolated(spark, tmp_path):
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    bad = spark.createDataFrame([(1, "x")], "id long, val string")
    cat.put("bad_table", bad, pk=["id"])
    rep = pipe.run()
    assert rep.failed == ["bad_table"]
    assert rep.exit_code == 2  # reference exit-2 contract
    # good table still replicated (per-table isolation)
    [good] = [r for r in rep.results if r.table == "t1"]
    assert good.status == "replicated"


def test_replay_idempotent(spark, tmp_path):
    """Re-running after a watermark reset (simulated crash before
    watermark commit) must not duplicate rows — at-least-once safety."""
    rows = [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    before = target_map(pipe)
    # crash simulation: wipe watermark so the same batch replays
    # (state is a single parquet file now; legacy layout was a dir)
    import os
    import shutil

    if os.path.isdir(pipe.watermarks.path):
        shutil.rmtree(pipe.watermarks.path)
    else:
        os.remove(pipe.watermarks.path)
    pipe.run()
    assert target_map(pipe) == before


class RecordingStore(ParquetTargetStore):
    """Logs each table's staged write and its swap, in the order they
    happen. ``holds`` maps a table to another whose staged write it
    waits for before swapping; the wait is timed, so a pipeline that
    does not stage concurrently fails instead of hanging."""

    def __init__(self, spark, root, tables, holds):
        self.log: list[tuple[str, str]] = []
        self.holds = holds
        self.staged = {t: threading.Event() for t in tables}
        super().__init__(spark, root)

    @property
    def before_swap(self):
        gate = self._gate
        if gate is None:
            return None

        def hook(table):
            self.log.append(("staged", table))
            self.staged[table].set()
            if table in self.holds:
                assert self.staged[self.holds[table]].wait(120), f"{table} held forever"
            gate(table)

        return hook

    @before_swap.setter
    def before_swap(self, gate):
        self._gate = gate

    def overwrite(self, table, df):
        super().overwrite(table, df)
        self.log.append(("swapped", table))


def fk_catalog(spark, names, edges):
    cat = Catalog(spark)
    for i, name in enumerate(names):
        cat.put(name, spark.createDataFrame([(i, name, T1, None, "N")], SCHEMA), pk=["id"])
    cat._fk_edges = edges
    return cat


def run_bounded(pipe, seconds=240):
    """``pipe.run()`` on a thread, failing the test if it has not
    returned within ``seconds`` (a hung publish wait)."""
    out = {}
    worker = threading.Thread(target=lambda: out.update(rep=pipe.run()), daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), "run() did not return"
    return out["rep"]


def test_concurrent_staging_publishes_in_fk_order(spark, tmp_path):
    chain = ["a_parent", "b_child", "c_grandchild"]
    names = chain + ["a_other"]  # independent of the chain
    edges = [("a_parent", "b_child"), ("b_child", "c_grandchild")]
    cat = fk_catalog(spark, names, edges)
    # a_other swaps only once a_parent has staged, and a_parent only
    # once its child has staged: with 2 workers both holds resolve only
    # if staging runs concurrently and just the swap follows FK order
    target = RecordingStore(spark, f"{tmp_path}/target", names,
                            holds={"a_other": "a_parent", "a_parent": "b_child"})
    wm = WatermarkStore(spark, f"{tmp_path}/wm")
    rep = CdcPipeline(spark, cat, target, wm, max_parallel_tables=2).run(parallel=True)

    # results stay in load order (lexicographic among ready tables)
    assert [r.table for r in rep.results] == ["a_other", "a_parent", "b_child", "c_grandchild"]
    assert {r.status for r in rep.results} == {"replicated"}, rep.results
    log = target.log
    for parent, child in edges:
        assert log.index(("swapped", parent)) < log.index(("swapped", child))
    assert log.index(("staged", "b_child")) < log.index(("swapped", "a_parent"))
    assert log.index(("staged", "a_parent")) < log.index(("swapped", "a_other"))
    assert target.before_swap is None  # the gate does not outlive run()
    assert {t: wm.get(t) for t in names} == dict.fromkeys(names, T1)

    serial_cat = fk_catalog(spark, names, edges)
    serial = CdcPipeline(
        spark, serial_cat, ParquetTargetStore(spark, f"{tmp_path}/serial"),
        WatermarkStore(spark, f"{tmp_path}/serial_wm"), max_parallel_tables=2,
    ).run(parallel=False)
    assert serial.results == rep.results


def test_failed_parent_does_not_block_child(spark, tmp_path):
    cat = fk_catalog(spark, ["t1"], [("bad_parent", "t1")])
    cat.put("bad_parent", spark.createDataFrame([(1, "x")], "id long, val string"), pk=["id"])
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    wm = WatermarkStore(spark, f"{tmp_path}/wm")
    rep = run_bounded(CdcPipeline(spark, cat, target, wm, max_parallel_tables=2))
    assert [(r.table, r.status) for r in rep.results] == [
        ("bad_parent", "failed"), ("t1", "replicated"),
    ]
    assert rep.results[0].error.startswith("ValueError")  # the string the CLI prints
    assert wm.get("t1") == T1 and wm.get("bad_parent") is None


def test_failure_is_logged_with_traceback(spark, tmp_path, caplog):
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    cat.put("bad_table", spark.createDataFrame([(1, "x")], "id long, val string"), pk=["id"])
    with caplog.at_level("ERROR", logger="oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline"):
        rep = pipe.run()
    assert rep.failed == ["bad_table"]
    [rec] = [r for r in caplog.records if "bad_table" in r.getMessage()]
    assert rec.exc_info is not None and rec.exc_info[0] is ValueError


def test_fk_cycle_leftovers_do_not_deadlock(spark, tmp_path):
    names = ["root", "y_cyc", "x_cyc"]
    edges = [("root", "x_cyc"), ("x_cyc", "y_cyc"), ("y_cyc", "x_cyc")]
    cat = fk_catalog(spark, names, edges)
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    wm = WatermarkStore(spark, f"{tmp_path}/wm")
    rep = run_bounded(CdcPipeline(spark, cat, target, wm, max_parallel_tables=2))
    # cycle members are appended after the ordered tables, in name order
    assert [(r.table, r.status) for r in rep.results] == [
        ("root", "replicated"), ("x_cyc", "replicated"), ("y_cyc", "replicated"),
    ]
