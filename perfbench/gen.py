"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``;
nothing is read from outside the work directory. Three kinds of input:

- ``write_star(out, sf, seed)``: the TPC-H-ish star schema plus the
  ``events``/``documents``/``embeddings`` tables, with the column names,
  arrow types and value domains of the repository's test fixtures
  (FIXTURES.md). The analytics qids and their DuckDB twins read it.
- ``CdcSource``: the seven star tables turned into CDC-shaped source
  tables (``created_at``/``updated_at``/``is_deleted``), as a v0
  snapshot plus a sequence of change batches appended as extra parquet
  files. Each batch changes about 1% of the rows of orders, lineitem,
  customer and part: skewed updates, soft-deletes of replicated keys,
  new keys, keys changed twice, and one soft-delete of a key that was
  never replicated. The small tables never change.

Same seed, same bytes: every random draw comes from one
``numpy.random.Generator`` per table, and parquet files are written
from arrow tables with fixed options.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CHANGING = ["customer", "part", "orders", "lineitem"]
PKS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
# columns an update rewrites (everything else keeps its current value)
MUTABLE = {
    "customer": ["c_acctbal", "c_mktsegment"],
    "part": ["p_retailprice", "p_size"],
    "orders": ["o_orderstatus", "o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_linestatus"],
}
BATCH_FRAC = 0.01  # share of a changing table's rows in one batch

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window index"
).split()

UTC = "UTC"
TS_NAIVE = pa.timestamp("us")
TS_UTC = pa.timestamp("us", tz=UTC)
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *salt]))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# -- star schema ------------------------------------------------------

def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(25, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        # every nation has a supplier, so per-nation qids are never empty
        "s_nationkey": pa.array(np.where(np.arange(n_supp) < 25, np.arange(n_supp),
                                         r.integers(0, 25, n_supp)).astype(np.int32)),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(r, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)), TS_NAIVE),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, 5)
    # one order in 500 is large (14 lines of 30-50 units), so the
    # "orders over 300 units" qid is never empty, even at tiny scale
    large = np.arange(n_ord) % 500 == 7
    lines = np.where(large, 14, r.integers(1, 8, n_ord))
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - start + 1).astype(np.int32)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": np.where(np.repeat(large, lines), r.integers(30, 51, n_li),
                               r.integers(1, 51, n_li)).astype(np.float64),
        "l_extendedprice": _money(r, n_li, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(r, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)), TS_NAIVE),
    })
    return out


def _events(sf: float, seed: int) -> pa.Table:
    n = max(1_000, int(1_000_000 * sf))
    users = max(15, int(15_000 * sf))
    r = _rng(seed, 6)
    t0 = _us(datetime(2024, 1, 1))
    ts = np.sort(t0 + r.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, TS_NAIVE),
        "user_id": r.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _documents(sf: float, seed: int) -> pa.Table:
    """Random token documents plus ~5% planted near-duplicates (a copy
    with its last token replaced), so near-dup pairs sit far above the
    Jaccard threshold and unrelated pairs far below it."""
    n = max(500, int(50_000 * sf))
    r = _rng(seed, 7)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            src = texts[int(r.integers(0, i))].split(" ")
            if len(src) >= 20:
                src[-1] = vocab[r.integers(0, len(vocab))]
                texts.append(" ".join(src))
                continue
        texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
    n_src = 20 if n >= 5_000 else 5
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{i % n_src}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(sf: float, seed: int, dim: int = 64) -> pa.Table:
    n = max(500, int(20_000 * sf))
    r = _rng(seed, 8)
    centers = r.normal(0.0, 1.0, (10, dim))
    label = r.integers(0, 10, n)
    v = centers[label] + r.normal(0.0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_star(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write every fixture table as ``<out>/<name>.parquet``; returns
    row counts."""
    tables = star_tables(sf, seed)
    tables["events"] = _events(sf, seed)
    tables["documents"] = _documents(sf, seed)
    tables["embeddings"] = _embeddings(sf, seed)
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- CDC source -------------------------------------------------------

# v0 rows were created during 2023; batch b's changes land in hour b of
# 2024-01-01 onward, so every batch sits strictly above the previous
# watermark.
V0_START = datetime(2023, 1, 1)
BATCH_START = datetime(2024, 1, 1)
HOUR_US = 3_600_000_000


@dataclass
class Batch:
    index: int
    rows: dict[str, int] = field(default_factory=dict)  # table -> rows written
    bytes: int = 0  # parquet bytes written for this batch

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


def _latest(t: pa.Table, pk: list[str]) -> pa.Table:
    """One row per key: its newest version (change times are unique)."""
    ts = pc.coalesce(t["updated_at"], t["created_at"]).cast(pa.int64()).to_numpy()
    keys = [t[c].to_numpy() for c in pk]
    order = np.lexsort([-ts, *reversed(keys)])
    same = np.ones(len(order) - 1, dtype=bool)
    for k in keys:
        ks = k[order]
        same &= ks[1:] == ks[:-1]
    first = np.concatenate([[True], ~same])
    return t.take(pa.array(np.sort(order[first])))


def _with_cdc(t: pa.Table, created: np.ndarray, updated: np.ndarray,
              deleted: np.ndarray) -> pa.Table:
    """Append the CDC columns; a negative ``updated`` means NULL."""
    return (t.append_column("created_at", pa.array(created, TS_UTC))
             .append_column("updated_at", pa.array(updated, TS_UTC, mask=updated < 0))
             .append_column("is_deleted", pa.array(deleted)))


class CdcSource:
    """The CDC-shaped source tables under ``<root>/<table>/``.

    ``write_v0()`` writes the initial snapshot. Each ``publish()``
    appends the next batch (as ``batch-<index>.parquet`` in each changed
    table) and returns what it wrote; every batch draws from the state
    the previous ones left. A batch whose index satisfies ``empty``
    publishes nothing. ``cuts`` holds, per published cycle, the
    exclusive upper bound of its change times, for the oracle.
    """

    def __init__(self, root: str, sf: float, seed: int,
                 empty: Callable[[int], bool] = lambda b: False):
        self.root = root
        self.seed = seed
        self.empty = empty
        base = star_tables(sf, seed)
        self.state: dict[str, pa.Table] = {name: base[name] for name in STAR_TABLES}
        self.next_batch = 0
        self.cuts: list[int] = []

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_v0(self) -> int:
        """Initial snapshot: created in 2023, ~10% already updated
        once, ~1% soft-deleted (those never reach the target: a first
        load drops deletes of unseen keys). Returns rows written."""
        total = 0
        span = (BATCH_START - V0_START) // timedelta(microseconds=1)
        for i, name in enumerate(STAR_TABLES):
            t = self.state[name]
            n = t.num_rows
            r = _rng(self.seed, 100 + i)
            created = _us(V0_START) + r.integers(0, span // 2, n)
            updated = np.where(r.random(n) < 0.10, created + r.integers(1, span // 2, n), -1)
            deleted = np.where(r.random(n) < 0.01, "Y", "N")
            full = _with_cdc(t, created, updated, deleted)
            self.state[name] = full
            _write(full, os.path.join(self.path(name), "v0.parquet"))
            total += n
        self.cuts.append(_us(BATCH_START))
        return total

    def publish(self) -> Batch:
        b = self.next_batch
        self.next_batch += 1
        batch = Batch(b)
        t0 = _us(BATCH_START) + b * HOUR_US
        if not self.empty(b):
            for i, name in enumerate(CHANGING):
                t = self._change(name, _rng(self.seed, 1000 + b, i), t0 + i * (HOUR_US // 8))
                path = os.path.join(self.path(name), f"batch-{b:05d}.parquet")
                _write(t, path)
                batch.rows[name] = t.num_rows
                batch.bytes += os.path.getsize(path)
        self.cuts.append(t0 + HOUR_US)
        return batch

    def _change(self, name: str, r: np.random.Generator, t0: int) -> pa.Table:
        """One table's share of a batch. The rows' change times are
        distinct and increase from ``t0``, so "latest version" is
        always well defined."""
        cur = self.state[name]
        n = cur.num_rows
        k = max(4, int(n * BATCH_FRAC))
        n_upd, n_del, n_new = int(k * 0.6), int(k * 0.1), int(k * 0.25)
        n_twice = max(1, k - n_upd - n_del - n_new)
        # updates skew toward recent keys (the tail of the table)
        upd_pos = np.unique(n - 1 - np.floor(n * r.random(n_upd) ** 3).astype(np.int64))
        rest = np.setdiff1d(np.arange(n), upd_pos)
        del_pos = r.choice(rest, n_del, replace=False)
        rest = np.setdiff1d(rest, del_pos)
        twice_pos = r.choice(rest, n_twice, replace=False)
        changed = np.concatenate([upd_pos, del_pos, twice_pos, twice_pos])
        versions = cur.take(pa.array(changed))
        m = len(changed)
        deleted = np.array(["N"] * m, dtype=object)
        deleted[len(upd_pos):len(upd_pos) + n_del] = "Y"
        versions = self._mutate(name, versions, r)
        new = self._new_rows(name, n_new + 1, r)
        ghost = np.zeros(n_new + 1, dtype=bool)
        ghost[-1] = True  # a soft-delete of a key never replicated
        rows = pa.concat_tables([
            versions.drop_columns(["created_at", "updated_at", "is_deleted"]),
            new,
        ])
        total = rows.num_rows
        ts = t0 + np.arange(1, total + 1) * 1_000  # 1 ms apart, increasing
        created = np.concatenate([versions["created_at"].cast(pa.int64()).to_numpy(), ts[m:]])
        updated = np.concatenate([ts[:m], np.full(total - m, -1)])
        updated[m:][ghost] = ts[m:][ghost] + 1
        is_del = np.concatenate([deleted, np.where(ghost, "Y", "N")])
        out = _with_cdc(rows, created, updated, is_del)
        self.state[name] = _latest(pa.concat_tables([cur, out]), PKS[name])
        return out

    def _mutate(self, name: str, t: pa.Table, r: np.random.Generator) -> pa.Table:
        n = t.num_rows
        for c in MUTABLE[name]:
            idx = t.schema.get_field_index(c)
            typ = t.schema.field(c).type
            if pa.types.is_floating(typ):
                vals = np.round(t[c].to_numpy() * r.uniform(0.9, 1.1, n), 2)
            elif pa.types.is_integer(typ):
                vals = r.integers(1, 51, n).astype(typ.to_pandas_dtype())
            else:
                domain = {"c_mktsegment": SEGMENTS, "o_orderstatus": ["F", "O", "P"],
                          "l_linestatus": ["F", "O"]}[c]
                vals = np.array(domain)[r.integers(0, len(domain), n)]
            t = t.set_column(idx, c, pa.array(vals, typ))
        return t

    def _new_rows(self, name: str, n: int, r: np.random.Generator) -> pa.Table:
        """Fresh keys above the current maximum, other columns drawn
        from the table's own rows."""
        cur = self.state[name]
        proto = cur.take(pa.array(r.integers(0, cur.num_rows, n))).drop_columns(
            ["created_at", "updated_at", "is_deleted"])
        pk = PKS[name][0]
        top = int(np.max(cur[pk].to_numpy())) + 1
        idx = proto.schema.get_field_index(pk)
        return proto.set_column(idx, pk, pa.array(np.arange(top, top + n, dtype=np.int64)))
