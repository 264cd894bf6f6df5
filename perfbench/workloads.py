"""The benchmark's two workloads.

Each is a closed loop with one client in one process: the next
operation starts when the previous one has returned. A workload
generates its inputs, runs a small warm-up probe per set-up
repetition, does its untimed preparation, then runs timed passes. An
operation is one ``CdcPipeline.run()`` cycle or one analytics qid.
Preparation ends with each operation run once, untimed, at full scale:
the first run of a code path at that scale pays JIT and codegen costs
that are slow and vary with how busy the host is.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import gate, gen
from perfbench.trace import Tracer, dir_bytes

CDC_SF = 0.1
TINY_SF = 0.001
BATCHES_PER_PASS = 2  # mixed, empty
EMPTY_AT = 1

# Headline qids by the layer that dominates them. ``reads`` names the
# fixture tables each one scans, for the analytics row rate.
QIDS = {
    # construction-heavy
    "q1_pricing_summary": ["lineitem"],
    "cdc_merge": ["orders"],
    "checksum_diff": ["orders"],
    # execution-heavy
    "ts_zscore": ["events"],
    "bloom_join": ["lineitem", "supplier", "nation"],
    "q18_large_orders": ["customer", "orders", "lineitem"],
    "kmeans_assign": ["embeddings"],
    # eager jobs inside construction
    "dedup_components": ["documents"],
    "minhash_dedup": ["documents"],
    # Python kernels and streaming
    "decontaminate": ["documents"],
    "scalar_pandas_udf": ["documents"],
    "stream_tumbling": ["events"],
}


@dataclass
class Op:
    id: str
    seconds: float
    failed: bool = False
    note: str = ""
    empty: bool = False  # a CDC cycle with no changes: in run_s, not in op_p50_s


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    rows: int = 0  # source or delta rows applied, or input rows scanned
    bytes_written: int = 0
    input_bytes: int = 0
    traced: bool = False

    @property
    def run_s(self) -> float:
        return sum(o.seconds for o in self.ops)


@dataclass
class Ctx:
    work: str
    seed: int
    cores: int
    sf: float
    tracer: Tracer | None = None
    spark: object = None
    info: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        t = self.tracer
        return t.span(name, **attrs) if t is not None and t.enabled else nullcontext(attrs)

    def operation(self, op: str, kind: str):
        t = self.tracer
        if t is not None and t.enabled:
            return t.operation(op, self.spark, kind)
        return nullcontext({})


def warmup(ctx: Ctx) -> None:
    """One set-up repetition after the session starts: discover the
    tiny input directory as a catalog and aggregate one table of it."""
    from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog

    cat = Catalog.from_parquet_dir(ctx.spark, ctx.path("tiny"))
    cat.load("lineitem").groupBy("l_returnflag").count().collect()


class CdcIncremental:
    """v0 fully loaded and one pass made during preparation, untimed;
    each timed pass applies the next ``BATCHES_PER_PASS`` change
    batches, one pipeline run per batch."""

    name = "cdc_incremental"
    driver_memory = "1g"

    def __init__(self):
        self.source: gen.CdcSource | None = None
        self.con = None
        self.last_report = None

    def pipeline(self, ctx: Ctx, target: str, state: str):
        from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
        from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
        from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
            CdcPipeline,
            ParquetTargetStore,
        )

        return CdcPipeline(
            ctx.spark,
            Catalog.from_parquet_dir(ctx.spark, self.source.root),
            ParquetTargetStore(ctx.spark, target),
            WatermarkStore(ctx.spark, state),
            max_parallel_tables=ctx.cores,
        )

    def check(self, ctx: Ctx, target: str) -> list[str]:
        if self.con is None:
            self.con = gate.connect()
            self.con.execute(f"SET threads={ctx.cores}")
        return gate.cdc_check(self.con, self.source.root, target, gen.STAR_TABLES,
                              self.source.cuts)

    def cycle(self, ctx: Ctx, op_id: str, target: str, state: str) -> Op:
        t0 = time.perf_counter()
        with ctx.operation(op_id, "cdc_cycle"):
            report = self.pipeline(ctx, target, state).run()
        op = Op(op_id, time.perf_counter() - t0)
        self.last_report = report
        bad = [f"{r.table}: {r.error}" for r in report.results if r.status == "failed"]
        t0 = time.perf_counter()
        bad += self.check(ctx, target)
        ctx.info["check_s"] = round(ctx.info.get("check_s", 0.0) + time.perf_counter() - t0, 3)
        if bad:
            op.failed, op.note = True, "; ".join(bad)
        return op

    def depths(self) -> dict[str, int]:
        from oracle_to_oracle_data_integration_pipeline_spark.catalog import FIXTURE_FK_EDGES
        from oracle_to_oracle_data_integration_pipeline_spark.plans.topo import topo_depths

        return topo_depths(gen.STAR_TABLES, FIXTURE_FK_EDGES)

    def generate(self, ctx: Ctx) -> None:
        sf = ctx.sf or CDC_SF
        self.source = gen.CdcSource(ctx.path("src"), sf, ctx.seed,
                                    empty=lambda b: b % BATCHES_PER_PASS == EMPTY_AT)
        ctx.info["source_rows"] = self.source.write_v0()
        gen.CdcSource(ctx.path("tiny"), TINY_SF, ctx.seed).write_v0()

    def prepare(self, ctx: Ctx) -> list[Op]:
        """The v0 full load, then one untimed pass."""
        self.target, self.state = ctx.path("target"), ctx.path("state", "wm.parquet")
        return [self.cycle(ctx, "v0", self.target, self.state)] + self.run_pass(ctx, -1).ops

    def run_pass(self, ctx: Ctx, p: int) -> Pass:
        out = Pass()
        for _ in range(BATCHES_PER_PASS):
            batch = self.source.publish()
            op = self.cycle(ctx, f"p{p}.b{batch.index}", self.target, self.state)
            op.empty = batch.total_rows == 0
            out.ops.append(op)
            out.rows += batch.total_rows
            out.input_bytes += batch.bytes
            out.bytes_written += sum(
                dir_bytes(os.path.join(self.target, r.table))[0]
                for r in self.last_report.results if r.status == "replicated"
            )
        return out


class Analytics:
    """A fixed list of headline qids, each forced through the noop
    sink. Before the timed passes each qid is checked once, untimed,
    against its DuckDB twin on the same inputs; that pass also warms
    every qid's code paths at the timed scale."""

    name = "analytics"
    driver_memory = "1g"

    def __init__(self):
        self.checks = 0
        self.failed_checks: list[str] = []

    def generate(self, ctx: Ctx) -> None:
        sf = ctx.sf or CDC_SF
        rows = gen.write_star(ctx.path("star"), sf, ctx.seed)
        gen.write_star(ctx.path("tiny"), TINY_SF, ctx.seed)
        self.rows_per_pass = sum(rows[t] for reads in QIDS.values() for t in reads)
        self.input_bytes = sum(
            os.path.getsize(ctx.path("star", f"{t}.parquet"))
            for reads in QIDS.values() for t in reads
        )

    def prepare(self, ctx: Ctx) -> list[Op]:
        from oracle_to_oracle_data_integration_pipeline_spark.queries import (
            all_oracle_sql,
            all_queries,
        )

        registry, oracle = all_queries(), all_oracle_sql()
        con = gate.oracle_connection(ctx.path("star"))
        con.execute(f"SET threads={ctx.cores}")
        for qid in QIDS:
            ctx.spark.catalog.clearCache()
            why = gate.qid_check(registry[qid](ctx.spark, ctx.path("star")), con, oracle[qid])
            self.checks += 1
            if why:
                self.failed_checks.append(f"{qid}: {why}")
        con.close()
        return []

    def run_pass(self, ctx: Ctx, p: int) -> Pass:
        from oracle_to_oracle_data_integration_pipeline_spark.queries import all_queries

        registry = all_queries()
        star = ctx.path("star")
        spark = ctx.spark
        sc = spark.sparkContext
        out = Pass(rows=self.rows_per_pass, input_bytes=self.input_bytes)
        stages_before = _stage_ids(sc)
        tracer = ctx.tracer if ctx.tracer is not None and ctx.tracer.enabled else None
        for qid in QIDS:
            spark.catalog.clearCache()
            op_id = f"p{p}.{qid}"
            t0 = time.perf_counter()
            with ctx.operation(op_id, "qid"):
                with ctx.span("queries.build") as b:
                    if tracer:
                        sc.setJobGroup(f"{op_id}:build", "build")
                        calls = tracer.py4j_calls
                    df = registry[qid](spark, star)
                    if tracer:
                        b["py4j"] = tracer.py4j_calls - calls
                        sc.setJobGroup(op_id, "qid")
                with ctx.span("queries.execute") as x:
                    df.write.mode("overwrite").format("noop").save()
            out.ops.append(Op(op_id, time.perf_counter() - t0))
            if tracer:
                x["catalyst_s"] = _catalyst_s(df)
        out.bytes_written = _local_bytes_written(sc, stages_before)
        return out


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time recorded by the
    DataFrame's own query tracker (planning is forced if the noop
    write planned its own copy of the query)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1000.0


def _stage_ids(sc) -> set[int]:
    return {s.stageId() for s in _stage_list(sc)}


def _stage_list(sc) -> list:
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    seq = store.stageList(empty, False, False, getattr(store, "stageList$default$4")(), empty)
    return [seq.apply(i) for i in range(seq.length())]


def _local_bytes_written(sc, before: set[int]) -> int:
    """Shuffle and spill bytes written by the stages run since
    ``before``: what the read path writes to local disk."""
    total = 0
    for s in _stage_list(sc):
        if s.stageId() not in before:
            total += s.shuffleWriteBytes() + s.diskBytesSpilled()
    return total


WORKLOADS = {w.name: w for w in (CdcIncremental, Analytics)}
