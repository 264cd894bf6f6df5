"""The replication pipeline — the engine's flagship program.

Re-expresses the reference's main loop
(`/root/reference/scripts/03_cdc_etl.py:238-379`) Spark-first:

reference step                              → engine step
----------------------------------------------------------------------
discover tables / PKs / FKs (dictionary)    → Catalog registry
topo sort, cycles appended                  → plans.topo (deterministic)
per-table: read watermark                   → WatermarkStore.get
full JDBC read then filter derived column   → pushdown-safe base-column
                                              predicate at the scan
count() to gate empty delta                 → cheap isEmpty() on the
                                              cached delta (no full count)
stage to STG_ table + Oracle MERGE          → merge_soft_delete (one
                                              shuffle join; no staging
                                              copy — the DataFrame IS
                                              the stage)
watermark = MAX(GREATEST(...)) recompute    → max(change_ts) from the
                                              SAME cached delta (the
                                              reference recomputes the
                                              scan 3×; we read it once)
per-table try/except, summary, exit code    → RunReport with per-table
                                              error isolation

Scale notes: every table of a run stages concurrently — delta read,
merge, stats and the parquet write to a temp directory, on driver
threads submitting independent Spark jobs (the reference is strictly
serial). Only the publish — the directory swap plus the watermark
upsert — follows FK order: a table swaps in after each FK parent earlier
in the load order has published or finished without a write (empty
delta, no PK, failed), so a reader never sees a child ahead of its
changed parent and a failed parent does not block its children. The
merge is the only wide operation, and its delta side is typically small
enough for AQE to broadcast. Target storage here is
plain parquet with an atomic directory swap per table; at 100 TB the
same `merge_soft_delete` plugs into Delta/Iceberg `MERGE INTO` via
`foreachBatch` without changing semantics (SURVEY.md §7 "what's built-in
vs custom").
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import (
    change_ts_col,
    delta_predicate,
    latest_per_key,
    merge_soft_delete,
)
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.schema_tools import validate_cdc_columns
# topo_depths is not called here; it stays a module attribute because
# tracing tools wrap this module's functions by name.
from oracle_to_oracle_data_integration_pipeline_spark.plans.topo import topo_depths, topo_sort_tables  # noqa: F401

log = logging.getLogger(__name__)


@dataclass
class TableResult:
    table: str
    status: str  # replicated | skipped_no_pk | empty_delta | failed
    inserted: int = 0
    updated: int = 0
    dropped_deletes: int = 0
    error: str | None = None


@dataclass
class RunReport:
    """Summary parity with the reference's run stats
    (`/root/reference/scripts/03_cdc_etl.py:207-217,336-379`)."""

    results: list[TableResult] = field(default_factory=list)

    @property
    def processed(self) -> int:
        return sum(1 for r in self.results if r.status in ("replicated", "empty_delta"))

    @property
    def inserted(self) -> int:
        return sum(r.inserted for r in self.results)

    @property
    def updated(self) -> int:
        return sum(r.updated for r in self.results)

    @property
    def failed(self) -> list[str]:
        return [r.table for r in self.results if r.status == "failed"]

    @property
    def skipped(self) -> list[str]:
        return [r.table for r in self.results if r.status == "skipped_no_pk"]

    @property
    def exit_code(self) -> int:
        """Reference exits 2 when any table failed
        (`/root/reference/scripts/03_cdc_etl.py:373-377`)."""
        return 2 if self.failed else 0


class ParquetTargetStore:
    """Per-table parquet target with rename-swap replacement.

    The merge output replaces the table directory via write-to-temp +
    two renames under the table's write lock (sources/locking.py —
    shared with ``ParquetSink.compact`` and held by
    ``CdcPipeline.replicate_table`` across its whole read→merge→swap,
    so concurrent mutators serialize on the full critical section, not
    just the rename window; the lock is thread-reentrant so the nested
    acquisition here is free). Between the write and the renames,
    ``before_swap(table)`` runs when set: ``CdcPipeline.run`` uses it to
    hold the swap until the table's FK parents have published, so the
    lock is also held across that wait (other tables' locks are never
    taken, so the wait cannot deadlock on a lock). A failed swap
    restores the previous version. Readers are not locked: between the
    two renames the path is briefly missing (ENOENT) — retry; atomic dir
    exchange needs renameat2(RENAME_EXCHANGE) or a table-format metadata
    commit.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.before_swap: Callable[[str], None] | None = None
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def overwrite(self, table: str, df: DataFrame) -> None:
        from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import (
            table_write_lock,
        )

        final = self.path(table)
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        with table_write_lock(final):
            df.write.mode("overwrite").parquet(tmp)
            if self.before_swap is not None:
                self.before_swap(table)
            old = f"{final}.old-{uuid.uuid4().hex[:8]}"
            if os.path.exists(final):
                os.rename(final, old)
            try:
                os.rename(tmp, final)
            except BaseException:
                # restore the previous version rather than leaving the
                # table path permanently missing
                if os.path.exists(old) and not os.path.exists(final):
                    os.rename(old, final)
                raise
            shutil.rmtree(old, ignore_errors=True)


class CdcPipeline:
    """Incremental soft-delete replication from a source catalog into a
    parquet target, watermark-gated — the reference's flagship program
    as a Spark library object."""

    def __init__(
        self,
        spark: SparkSession,
        source: Catalog,
        target: ParquetTargetStore,
        watermarks: WatermarkStore,
        max_parallel_tables: int = 4,
        merge_strategy: str = "auto",
        broadcast_delta_max_rows: int = 1_000_000,
    ):
        self.spark = spark
        self.source = source
        self.target = target
        self.watermarks = watermarks
        self.max_parallel_tables = max_parallel_tables
        # "auto": broadcast_delta only when the delta is BOTH
        # incremental (a watermark exists) AND actually small — the
        # explicit broadcast hint overrides Spark's size safeguards, so
        # a bulk backfill with a watermark present must still take the
        # shuffle path (see operators/cdc.py merge_soft_delete).
        self.merge_strategy = merge_strategy
        self.broadcast_delta_max_rows = broadcast_delta_max_rows

    # -- per-table replication (reference loop body,
    #    /root/reference/scripts/03_cdc_etl.py:259-351) ---------------

    def replicate_table(self, table: str) -> TableResult:
        try:
            pk = self.source.get_pk_columns(table)
            if not pk:
                # Reference skips PK-less tables (03_cdc_etl.py:264-268).
                return TableResult(table, "skipped_no_pk")

            src = self.source.load(table)
            validate_cdc_columns(src, table)  # 03_cdc_etl.py:270-274

            last_ts = self.watermarks.get(table)
            pred = delta_predicate(last_ts)
            delta = src.filter(pred) if pred is not None else src
            # One materialization, reused for emptiness gate, merge and
            # watermark advance (the reference recomputes the scan 3×).
            delta = delta.cache()
            try:
                if delta.isEmpty():  # cheap gate, not a full count()
                    return TableResult(table, "empty_delta")
                # The new watermark, read while staging rather than after
                # the swap: FK children wait on this table's publish
                # (swap, then upsert), so it runs no Spark job.
                max_ts = delta.agg(F.max(change_ts_col()).alias("m")).collect()[0]["m"]

                delta_clean = latest_per_key(delta, pk)
                # The table lock covers the whole read→merge→swap: a
                # concurrent writer (another replicate, a compact)
                # cannot swap the directory between this target read
                # and the overwrite — the lost-update / stale-file-
                # listing window. The lock is thread-reentrant, so
                # overwrite()'s own acquisition nests freely.
                from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import (
                    table_write_lock,
                )

                with table_write_lock(self.target.path(table)):
                    if self.target.exists(table):
                        tgt = self.target.read(table)
                    else:
                        tgt = src.limit(0)  # first run: empty clone target
                    if self.merge_strategy == "auto":
                        # count() is cheap here: delta is already cached
                        small = last_ts is not None and delta.count() <= self.broadcast_delta_max_rows
                        strategy = "broadcast_delta" if small else "shuffle"
                    else:
                        strategy = self.merge_strategy
                    merged = merge_soft_delete(tgt, delta_clean, pk, strategy=strategy)
                    # persist the shared join subtree so the stats pass
                    # and the target write execute the merge join ONCE
                    merged.persist_shared()
                    try:
                        stats = merged.stats()
                        self.target.overwrite(table, merged.df)
                    finally:
                        merged.unpersist_shared()

                # Watermark advance only after a successful write
                # (at-least-once protocol, 03_cdc_etl.py:324-334).
                if max_ts is not None:
                    self.watermarks.upsert(table, max_ts)
                return TableResult(
                    table,
                    "replicated",
                    inserted=stats.inserted,
                    updated=stats.updated,
                    dropped_deletes=stats.dropped_deletes,
                )
            finally:
                delta.unpersist()
        except Exception as exc:  # per-table isolation (03_cdc_etl.py:348-352)
            log.exception("replication of table %s failed", table)
            return TableResult(table, "failed", error=f"{type(exc).__name__}: {exc}")

    # -- full run ------------------------------------------------------

    def run(self, tables: list[str] | None = None, parallel: bool = True) -> RunReport:
        tables = tables if tables is not None else self.source.list_tables()
        edges = self.source.get_fk_relationships()
        ordered, leftovers = topo_sort_tables(tables, edges)
        load_order = ordered + leftovers  # cycles last (03_cdc_etl.py:254-256)

        report = RunReport()
        if not parallel or self.max_parallel_tables <= 1:
            for t in load_order:
                report.results.append(self.replicate_table(t))
            return report

        # Concurrent staging, FK-ordered publish: every table runs
        # replicate_table at once; only the swap inside target.overwrite
        # waits for the table's FK parents earlier in load_order to
        # return, whatever their status, so a failed parent never blocks
        # a child. Workers take tables in submission order, so a parent
        # waited on has already started and waits only on tables earlier
        # still: no deadlock, cycle leftovers included (their back edges
        # point later and are ignored).
        pos = {t: i for i, t in enumerate(load_order)}
        parents: dict[str, set[str]] = {t: set() for t in load_order}
        for p, c in edges:
            if p in pos and c in pos and pos[p] < pos[c]:
                parents[c].add(p)
        futures: dict[str, Future] = {}

        def await_parents(table: str) -> None:
            wait([futures[p] for p in parents.get(table, ())])

        self.target.before_swap = await_parents
        try:
            with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as pool:
                # a loop, not a comprehension: workers read the dict as it fills
                for t in load_order:
                    futures[t] = pool.submit(self.replicate_table, t)
        finally:
            self.target.before_swap = None
        report.results = [futures[t].result() for t in load_order]
        return report
