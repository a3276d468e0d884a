"""Seeded input generators for the benchmark workloads, and the run card.

Inputs are a pure function of ``(workload, seed, shape)``. They are built
before set-up, cached under ``perfbench/.cache`` and handed to the program
only as files, so generation is never inside a timed window.

The ``lineitem`` and ``orders`` shapes follow the sf0.1 TPC-H-style tables
the query registry runs on: lineitem keys are uniform draws of
``(l_orderkey, l_linenumber)`` over ``orders/4 x 7`` key slots, which is
what gives sf0.1 its 600,000 rows over 456,861 distinct keys. Unlike sf0.1,
every non-key column is a hash of the key, so duplicate rows are exact
copies and a deduplicated output has one right answer to check against.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEEP_CACHED = 6  # newest input sets kept in the cache


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finaliser of ``x + seed``: a stateless per-key hash."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _pick(h: np.ndarray, choices: list[str], shift: int) -> np.ndarray:
    idx = ((h >> np.uint64(shift)) % np.uint64(len(choices))).astype(np.int64)
    return np.asarray(choices, dtype=object)[idx]


def _ts(h: np.ndarray, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    offs = (h % np.uint64(span_days)).astype(np.int64) * 86_400_000_000
    return pa.array(base + offs, type=pa.timestamp("us"))


# --------------------------------------------------------------- digests
def table_digest(table: pa.Table) -> tuple[int, int]:
    """Order-insensitive ``(row count, sum of row hashes)`` of ``table``.

    Columns are taken by sorted name and timestamps as integer
    microseconds, so a table read back through Spark (tz-aware) and the
    generator's expectation (naive) digest alike.
    """
    names = sorted(table.column_names)
    cols = []
    for name in names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us", tz=col.type.tz)), pa.int64())
        cols.append(col)
    canon = pa.table(cols, names=names)
    con = duckdb.connect()
    try:
        con.register("t", canon)
        quoted = ", ".join(f'"{n}"' for n in names)
        n, h = con.execute(
            f"select count(*), coalesce(sum(hash({quoted})::hugeint), 0) from t"
        ).fetchone()
    finally:
        con.close()
    return int(n), int(h)


# -------------------------------------------------------------- lineitem
def lineitem_slice(keys_o: np.ndarray, keys_l: np.ndarray, seed: int) -> pa.Table:
    """Rows for ``(l_orderkey, l_linenumber)`` keys; values hash the key."""
    h = _mix(keys_o.astype(np.uint64) * np.uint64(8) + keys_l.astype(np.uint64), seed)
    qty = ((h % np.uint64(50)) + np.uint64(1)).astype(np.float64)
    partkey = ((h >> np.uint64(8)) % np.uint64(20_000)).astype(np.int64)
    price_cents = (900_00 + (partkey % 200) * 100 + (partkey // 200) % 100).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(keys_o, type=pa.int64()),
            "l_partkey": pa.array(partkey, type=pa.int64()),
            "l_suppkey": pa.array(((h >> np.uint64(24)) % np.uint64(1_000)).astype(np.int64)),
            "l_linenumber": pa.array(keys_l, type=pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(qty * price_cents / 100.0),
            "l_discount": pa.array(((h >> np.uint64(34)) % np.uint64(11)).astype(np.float64) / 100),
            "l_tax": pa.array(((h >> np.uint64(38)) % np.uint64(9)).astype(np.float64) / 100),
            "l_returnflag": pa.array(_pick(h, ["A", "N", "R"], 42), type=pa.string()),
            "l_linestatus": pa.array(_pick(h, ["O", "F"], 46), type=pa.string()),
            "l_shipdate": _ts(h >> np.uint64(48), "1992-01-02", 2_500),
        }
    )


def gen_ingest(out: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """A backlog of ``n_files`` lineitem slices under ``out/in``."""
    rng = np.random.default_rng([seed, 1])
    total = n_files * rows_per_file
    n_orders = max(1, total // 4)
    os.makedirs(os.path.join(out, "in"))
    files = []
    for b in range(n_files):
        keys_o = rng.integers(0, n_orders, rows_per_file)
        keys_l = rng.integers(1, 8, rows_per_file).astype(np.int32)
        name = f"part-{b:05d}.parquet"
        path = os.path.join(out, "in", name)
        pq.write_table(lineitem_slice(keys_o, keys_l, seed), path)
        files.append({"name": name, "rows": rows_per_file, "bytes": os.path.getsize(path)})
    return {"files": files}


# ------------------------------------------------------------------ orders
ORDER_STATUS = ["O", "P", "F"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
CHANGE_SCHEMA = ORDERS_SCHEMA.append(pa.field("_change_type", pa.string()))
# Updates and deletes draw only from the newest HOT_SHARE of live keys:
# orders change while they are open, and the open ones are the newest.
HOT_SHARE = 0.10
# The base table is seeded as this many files, each one range of keys.
BASE_FILES = 16


def _orders_rows(keys: np.ndarray, rng: np.random.Generator) -> pd.DataFrame:
    n = len(keys)
    base = np.datetime64("1992-01-01", "us").astype(np.int64)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": np.asarray(ORDER_STATUS, dtype=object)[rng.integers(0, 3, n)],
            # whole cents: sums and digests stay exact
            "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
            "o_orderdate": pd.to_datetime(
                base + rng.integers(0, 2_400, n) * 86_400_000_000, unit="us"
            ),
            "o_orderpriority": np.asarray(ORDER_PRIORITY, dtype=object)[rng.integers(0, 5, n)],
        }
    )


def gen_cdc(out: str, seed: int, n_files: int, changes_per_file: int, base_rows: int) -> dict:
    """An orders base table and ``n_files`` CDC change files against it.

    Each file holds 70% ``update_postimage``, 15% ``insert`` and 15%
    ``delete`` rows over distinct keys, so the table size stays constant.
    Updated and deleted keys are drawn uniformly from the newest
    ``HOT_SHARE`` of live keys; inserts take new, higher keys. The manifest
    records the expected table digest after each file, and how many of the
    base table's ``BASE_FILES`` key ranges each file's updates and deletes
    touch: the base files a merge that rewrites only touched files would
    rewrite.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(os.path.join(out, "changes"))
    state = _orders_rows(np.arange(base_rows), rng)
    pq.write_table(
        pa.Table.from_pandas(state, schema=ORDERS_SCHEMA, preserve_index=False),
        os.path.join(out, "base.parquet"),
    )
    state = state.set_index("o_orderkey", drop=False)
    next_key = base_rows
    n_upd = round(0.70 * changes_per_file)
    n_del = round(0.15 * changes_per_file)
    n_ins = changes_per_file - n_upd - n_del
    files = []
    expected = [table_digest(pa.Table.from_pandas(state, preserve_index=False))]
    ranges_touched = []
    for b in range(n_files):
        # rows stay in key order: base keys ascending, inserts appended
        hot = max(n_upd + n_del, round(HOT_SHARE * len(state)))
        pos = len(state) - 1 - rng.choice(hot, n_upd + n_del, replace=False)
        touched = state.index.values[pos]
        base_keys = touched[touched < base_rows]
        ranges_touched.append(len(np.unique(base_keys * BASE_FILES // base_rows)))
        upd_keys, del_keys = touched[:n_upd], touched[n_upd:]
        upd = state.loc[upd_keys].copy()
        upd["o_totalprice"] = rng.integers(100_000, 50_000_000, n_upd) / 100.0
        upd["o_orderstatus"] = np.asarray(ORDER_STATUS, dtype=object)[rng.integers(0, 3, n_upd)]
        ins = _orders_rows(np.arange(next_key, next_key + n_ins), rng)
        next_key += n_ins
        dele = pd.DataFrame({"o_orderkey": del_keys.astype(np.int64)})
        changes = pd.concat(
            [
                upd.assign(_change_type="update_postimage"),
                ins.assign(_change_type="insert"),
                dele.assign(_change_type="delete"),
            ],
            ignore_index=True,
        )
        changes = changes.iloc[rng.permutation(len(changes))]
        name = f"part-{b:05d}.parquet"
        path = os.path.join(out, "changes", name)
        pq.write_table(pa.Table.from_pandas(changes, schema=CHANGE_SCHEMA, preserve_index=False), path)
        files.append({"name": name, "rows": len(changes), "bytes": os.path.getsize(path)})
        state.loc[upd_keys] = upd
        state = state.drop(index=del_keys)
        state = pd.concat([state, ins.set_index("o_orderkey", drop=False)])
        expected.append(table_digest(pa.Table.from_pandas(state, preserve_index=False)))
    return {"files": files, "expected": expected, "base_rows": base_rows,
            "base_ranges_touched": ranges_touched}


GENERATORS = {"ingest_dedupe": gen_ingest, "cdc_merge": gen_cdc}


def cached_inputs(cache_root: str, workload: str, seed: int, **shape) -> tuple[str, dict, float]:
    """Directory, manifest and generation seconds of one input set.

    Built into a temporary directory and renamed into place, so an
    interrupted build is never mistaken for a cached one. Seconds are 0.0
    on a cache hit.
    """
    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    final = os.path.join(cache_root, f"{workload}-{tag}-s{seed}")
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(final)
        with open(manifest_path) as f:
            return final, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = GENERATORS[workload](tmp, seed, **shape)
    manifest.update({"workload": workload, "seed": seed, "shape": shape})
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, final)
    _prune(cache_root)
    return final, manifest, time.perf_counter() - t0


def _prune(cache_root: str) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, d)) and ".tmp" not in d
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[KEEP_CACHED:]:
        shutil.rmtree(stale, ignore_errors=True)


# ---------------------------------------------------------------- run card
def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def _git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class RunCard:
    """Facts about the box a run measured on, taken before and after it."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.card = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "git_sha": _git_sha(root),
            "loadavg_before": _loadavg(),
            "steal_jiffies_before": _steal_jiffies(),
            "started_unix": time.time(),
        }

    def finish(self, path: str, **extra) -> None:
        self.card.update(
            loadavg_after=_loadavg(),
            steal_jiffies_after=_steal_jiffies(),
            ended_unix=time.time(),
            **extra,
        )
        with open(path, "w") as f:
            json.dump(self.card, f, indent=1)
