"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only: the program under test never
sees the generator, only the parquet files it writes, which it reads
through ``mvrepair.sources.load_table``.  Each generator returns the
values a correct program must produce on its files (the reconcile
counters, the report record counts, the repair cell and delete-key
counts), computed from the generator's own class assignment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reconcile window, in seconds, handed to the job as cass.mv.*tsinsec.
WINDOW_START_S = 1_600_000_000
WINDOW_END_S = 1_700_000_000

# Non-PK compared columns and their logical types: one inconsistency
# column per type family the report renders differently.
VALUE_COLUMNS = {
    "c_bigint": "BIGINT",
    "c_dec": "DECIMAL",
    "c_double": "DOUBLE",
    "c_int": "INT",
    "c_text": "TEXT",
    "c_ts": "TIMESTAMP",
}
BASE_PK = ["id"]
MV_PK = ["grp", "id"]
N_GROUPS = 4096
FILES_PER_SIDE = 4

# Problem classes, one per key.
CONSISTENT, MISSING_MV, INCONSISTENT, SKIPPED = 0, 1, 2, 3


@dataclass(frozen=True)
class PairShape:
    """Size and class rates of one generated base/MV pair."""

    keys: int
    missing_rate: float
    orphan_rate: float
    inconsistent_rate: float
    out_of_window_rate: float
    duplicate_rate: float


@dataclass
class PairExpect:
    """What a correct reconcile of the generated pair must report."""

    counters: dict[str, int]
    read_rows: int
    records: dict[str, int]  # report category -> record count
    upsert_cells: int
    delete_keys: int
    disk_bytes: int
    disk_rows: int


def _decimal_array(unscaled: np.ndarray) -> pa.Array:
    """int64 unscaled values -> decimal128(38, 2) without Python objects."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(38, 2), len(unscaled), [None, pa.py_buffer(words.tobytes())]
    )


def _text_array(rng: np.random.Generator, n: int) -> np.ndarray:
    words = np.array([f"w{i:03d}" for i in range(512)], dtype=object)
    a = words[rng.integers(0, len(words), n)]
    b = words[rng.integers(0, len(words), n)]
    return a + " " + b


def _values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    text = _text_array(rng, n)
    text[rng.random(n) < 0.02] = None  # null == null on both sides
    return {
        "c_bigint": rng.integers(-(2**40), 2**40, n, dtype=np.int64),
        "c_dec": rng.integers(-10**9, 10**9, n, dtype=np.int64),
        "c_double": np.round(rng.random(n) * 1e4, 3),
        "c_int": rng.integers(-10**6, 10**6, n, dtype=np.int32),
        "c_text": text,
        "c_ts": rng.integers(10**15, 2 * 10**15, n, dtype=np.int64),
    }


def _perturb(col: str, v: np.ndarray) -> np.ndarray:
    """A value that differs from ``v`` under the column's equality."""
    if col == "c_text":
        return np.array([("x" if s is None else s + "~") for s in v], dtype=object)
    if col == "c_double":
        return v + 0.5
    if col == "c_ts":
        return v + 1_000_000
    return v + 1


def _table(ids, grp, vals, wt, ttl) -> pa.Table:
    cols = {"id": pa.array(ids, pa.int64()), "grp": pa.array(grp, pa.int64())}
    for c in VALUE_COLUMNS:
        v = vals[c]
        if c == "c_dec":
            cols[c] = _decimal_array(v)
        elif c == "c_ts":
            cols[c] = pa.array(v, pa.timestamp("us", tz="UTC"))
        elif c == "c_text":
            cols[c] = pa.array(v, pa.string())
        else:
            cols[c] = pa.array(v)
    for c in VALUE_COLUMNS:
        cols[f"{c}__writetime"] = pa.array(wt, pa.int64())
        cols[f"{c}__ttl"] = pa.array(ttl, pa.int32(), mask=ttl == 0)
    return pa.table(cols)


def _write_side(table: pa.Table, path: str) -> int:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES_PER_SIDE)
    for i in range(FILES_PER_SIDE):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i}.parquet"),
            row_group_size=max(1, step // 2),
        )
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    )


def make_pair(shape: PairShape, seed: int, out_dir: str, repair: bool) -> PairExpect:
    """Write ``<out_dir>/base.parquet/`` and ``<out_dir>/mv.parquet/`` and
    return the expected reconcile outcome (all three fix flags on when
    ``repair``)."""
    rng = np.random.default_rng(seed)
    n = shape.keys
    ids = rng.permutation(n).astype(np.int64)
    grp = rng.integers(0, N_GROUPS, n, dtype=np.int64)
    cls = rng.choice(
        4,
        n,
        p=[
            1 - shape.missing_rate - shape.inconsistent_rate - shape.out_of_window_rate,
            shape.missing_rate,
            shape.inconsistent_rate,
            shape.out_of_window_rate,
        ],
    )
    vals = _values(rng, n)
    in_lo, in_hi = WINDOW_START_S * 10**6, WINDOW_END_S * 10**6
    wt = rng.integers(in_lo + 10**9, in_hi - 10**9, n, dtype=np.int64)
    late = cls == SKIPPED
    wt[late] = rng.integers(in_hi + 10**9, in_hi + 10**12, int(late.sum()))
    ttl = np.where(rng.random(n) < 0.1, 86_400, 0).astype(np.int32)  # 0 = null

    # MV: base rows minus MISSING_MV, INCONSISTENT rows perturbed in one
    # or two columns, plus orphans (ids past the base key range).
    mv_rows = cls != MISSING_MV
    mv_vals = {c: v[mv_rows].copy() for c, v in vals.items()}
    mv_cls = cls[mv_rows]
    inc_idx = np.flatnonzero(mv_cls == INCONSISTENT)
    n_changed = rng.integers(1, 3, len(inc_idx))
    names = list(VALUE_COLUMNS)
    first = rng.integers(0, len(names), len(inc_idx))
    second = (first + rng.integers(1, len(names), len(inc_idx))) % len(names)
    for j, c in enumerate(names):
        hit = inc_idx[(first == j) | ((second == j) & (n_changed == 2))]
        mv_vals[c][hit] = _perturb(c, mv_vals[c][hit])

    n_orphan = int(round(shape.orphan_rate * n))
    orphan_vals = _values(rng, n_orphan)
    orphan_wt = rng.integers(in_lo + 10**9, in_hi - 10**9, n_orphan, dtype=np.int64)
    mv_ids = np.concatenate([ids[mv_rows], np.arange(n, n + n_orphan, dtype=np.int64)])
    mv_grp = np.concatenate([grp[mv_rows], rng.integers(0, N_GROUPS, n_orphan)])
    mv_vals = {c: np.concatenate([mv_vals[c], orphan_vals[c]]) for c in names}
    mv_wt = np.concatenate([wt[mv_rows], orphan_wt])
    mv_ttl = np.concatenate([ttl[mv_rows], np.zeros(n_orphan, np.int32)])

    # Exact duplicate rows of consistent keys on each side: dedup-first
    # keeps one of two identical rows, so the outcome stays determined.
    def dup(mask_len, consistent):
        pick = np.flatnonzero(consistent & (rng.random(mask_len) < shape.duplicate_rate))
        return np.concatenate([np.arange(mask_len), pick])

    b_order = rng.permutation(dup(n, cls == CONSISTENT))
    m_cons = np.concatenate([mv_cls == CONSISTENT, np.zeros(n_orphan, bool)])
    m_order = rng.permutation(dup(len(mv_ids), m_cons))

    def side(order, i, g, v, w, t):
        return _table(i[order], g[order], {c: v[c][order] for c in names}, w[order], t[order])

    disk = _write_side(
        side(b_order, ids, grp, vals, wt, ttl),
        os.path.join(out_dir, "base.parquet"),
    )
    disk += _write_side(
        side(m_order, mv_ids, mv_grp, mv_vals, mv_wt, mv_ttl),
        os.path.join(out_dir, "mv.parquet"),
    )
    disk_rows = len(b_order) + len(m_order)

    n_miss = int((cls == MISSING_MV).sum())
    n_inc = int((cls == INCONSISTENT).sum())
    n_skip = int(late.sum())
    problems = n_miss + n_inc + n_orphan
    fix = int(repair)
    counters = {
        "totRecords": n + n_orphan,
        "skippedRecords": n_skip,
        "consistentRecords": n - n_miss - n_inc - n_skip,
        "inConsistentRecords": n_inc,
        "missingBaseTableRecords": n_orphan,
        "missingMvRecords": n_miss,
        "repairRecords": problems * fix,
        "notRepairRecords": problems * (1 - fix),
        "delAttemptedRecords": n_orphan * fix,
        "delErrRecords": 0,
        "delSuccessRecords": n_orphan * fix,
        "notDelRecords": 0,
        "upsertAttemptedRecords": (n_inc + n_miss) * fix,
        "upsertErrRecords": 0,
        "upsertSuccessRecords": (n_inc + n_miss) * fix,
    }
    return PairExpect(
        counters=counters,
        read_rows=n + (n - n_miss + n_orphan),
        records={
            "MISSING_IN_MV_TABLE": n_miss,
            "MISSING_IN_BASE_TABLE": n_orphan,
            "INCONSISTENT": n_inc,
        },
        upsert_cells=(int(n_changed.sum()) + len(names) * n_miss) * fix,
        delete_keys=n_orphan * fix,
        disk_bytes=disk,
        disk_rows=disk_rows,
    )


# ---------------------------------------------------------------------------
# Registry tables: the columns the five graph / shingle-join queries read,
# in the fixture schema (FIXTURES.md), sized so one pass is job-bound.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class RegistryShape:
    parts: int
    orders: int
    docs: int


_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window order data column join small customer query big filter"
    " group stream vector"
).split()


def make_registry(shape: RegistryShape, seed: int, out_dir: str) -> int:
    """Write ``lineitem``, ``part`` and ``documents`` parquet files into
    ``out_dir``; return the total input row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_order = rng.integers(1, 8, shape.orders)
    n_li = int(per_order.sum())
    orderkey = np.repeat(np.arange(1, shape.orders + 1, dtype=np.int64) * 4, per_order)
    li = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, shape.parts, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, n_li, dtype=np.int64),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
            ),
            "l_quantity": np.round(rng.random(n_li) * 50, 2),
            "l_extendedprice": np.round(rng.random(n_li) * 1e4, 2),
            "l_discount": np.round(rng.random(n_li) * 0.1, 2),
            "l_tax": np.round(rng.random(n_li) * 0.08, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_li),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_li),
            "l_shipdate": pa.array(
                rng.integers(694_224_000, 978_307_200, n_li) * 10**6,
                pa.timestamp("us"),
            ),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(shape.parts, dtype=np.int64),
            "p_name": np.array([f"part {i}" for i in range(shape.parts)], dtype=object),
            "p_brand": np.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, shape.parts)], dtype=object
            ),
            "p_type": rng.choice(np.array(["ECONOMY", "PROMO", "STANDARD"], dtype=object), shape.parts),
            "p_size": pa.array(rng.integers(1, 51, shape.parts), pa.int32()),
            "p_retailprice": np.round(900 + rng.random(shape.parts) * 1000, 2),
        }
    )
    words = np.array(_DOC_WORDS, dtype=object)
    lens = rng.integers(10, 100, shape.docs)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    docs = pa.table(
        {
            "doc_id": np.arange(shape.docs, dtype=np.int64),
            "text": text,
            "lang": np.array(["en"] * shape.docs, dtype=object),
            "source": np.array([f"src{i % 7}" for i in range(shape.docs)], dtype=object),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    for name, t in (("lineitem", li), ("part", part), ("documents", docs)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return li.num_rows + part.num_rows + docs.num_rows
