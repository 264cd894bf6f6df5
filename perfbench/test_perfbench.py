"""Tests of the benchmark itself, at tiny scale (sf0.001).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gate, gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate(root: str, seed: int) -> gen.CdcSource:
    gen.write_star(os.path.join(root, "star"), 0.001, seed)
    src = gen.CdcSource(os.path.join(root, "cdc"), 0.001, seed, empty=lambda b: b == 1)
    src.write_v0()
    for _ in range(3):
        src.publish()
    return src


def test_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        _generate(str(tmp_path / name), seed)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_batches_hold_every_kind_of_change(tmp_path):
    src = gen.CdcSource(str(tmp_path), 0.01, 7, empty=lambda b: b == 1)
    src.write_v0()
    first, empty = src.publish(), src.publish()
    assert empty.rows == {} and set(first.rows) == set(gen.CHANGING)
    for t in gen.CHANGING:
        v0 = pq.read_table(os.path.join(src.path(t), "v0.parquet"))
        b = pq.read_table(os.path.join(src.path(t), "batch-00000.parquet"))
        pk = gen.PKS[t]
        assert 0.008 < b.num_rows / v0.num_rows < 0.015
        keys = b.select(pk).to_pylist()
        old = set(map(tuple, (r.values() for r in v0.select(pk).to_pylist())))
        as_tuples = [tuple(r.values()) for r in keys]
        assert len(set(as_tuples)) < len(as_tuples)  # keys changed twice
        new = [k for k in as_tuples if k not in old]
        deleted = b.filter(pc.equal(b["is_deleted"], "Y"))
        ghost = [tuple(r.values()) for r in deleted.select(pk).to_pylist() if tuple(r.values()) not in old]
        assert len(ghost) == 1 and ghost[0] in new  # one delete of a never-seen key
        assert deleted.num_rows > 1  # soft-deletes of replicated keys too


def test_gate_fails_on_one_corrupted_target_row(tmp_path):
    from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
    from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
    from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
        CdcPipeline,
        ParquetTargetStore,
    )
    from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench_test", cpus=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.local.dir": str(tmp_path / "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    src = gen.CdcSource(str(tmp_path / "src"), 0.001, 3)
    src.write_v0()
    tgt = str(tmp_path / "target")

    def cycle():
        pipe = CdcPipeline(spark, Catalog.from_parquet_dir(spark, src.root),
                           ParquetTargetStore(spark, tgt),
                           WatermarkStore(spark, str(tmp_path / "wm.parquet")), max_parallel_tables=2)
        assert not pipe.run().failed

    cycle()
    src.publish()
    cycle()
    con = gate.connect()
    assert gate.cdc_check(con, src.root, tgt, gen.STAR_TABLES, src.cuts) == []

    part = max(glob.glob(os.path.join(tgt, "orders", "*.parquet")), key=os.path.getsize)
    t = pq.read_table(part)
    price = t["o_totalprice"].to_pylist()
    price[0] += 0.01
    idx = t.schema.get_field_index("o_totalprice")
    pq.write_table(t.set_column(idx, "o_totalprice", pc.cast(price, t.schema.field(idx).type)), part)
    bad = gate.cdc_check(con, src.root, tgt, gen.STAR_TABLES, src.cuts)
    assert len(bad) == 1 and bad[0].startswith("orders:")


class _Frame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_qid_check_compares_row_multisets():
    con = gate.connect()
    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"
    assert gate.qid_check(_Frame(["v", "k"], [("b", 2), ("a", 1)]), con, sql) is None
    assert gate.qid_check(_Frame(["k", "v"], [(1, "a"), (2, "c")]), con, sql)
    assert gate.qid_check(_Frame(["k", "v"], [(1, "a")]), con, sql)
    assert gate.qid_check(_Frame(["k"], []), con, "SELECT 1 AS k WHERE false")


def _run(args, cwd, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_workload_prints_every_metric_with_its_unit(workload, trace, kind, tmp_path):
    out = _run(["--workload", workload, "--seed", "1", "--seconds", "0.1", "--trace", str(trace),
                "--sf", "0.001", "--work", str(tmp_path)], ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if not ln.startswith("#")}
    for name, unit in want.items():
        assert printed[name] == unit
    assert printed["failed_ratio"] == "ratio"
    assert os.listdir(tmp_path) in ([], [f"spans-{workload}-1.jsonl"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = _run(["--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
               str(tmp_path), timeout=120)
    assert out.returncode != 0 and not out.stdout.strip()
