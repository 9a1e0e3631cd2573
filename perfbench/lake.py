"""Seeded benchmark lake, generated from the repository's ``testdata/sf0.01``.

The fact tables (``lineitem``, ``orders``, ``events``) and the customer
dimension are replicated ``REPLICAS`` times (``lineitem``: 60k rows per
replica). Each replica offsets its keys so joins stay one-to-one
with their own replica, and carries seeded jitter on prices, dates and
event values so different seeds give different (but equally shaped)
inputs. Replicated tables are written as directories of ``PARTS`` part
files; the small dimensions and the document/embedding tables are copied
unchanged as single files.

``cdc/`` holds a change feed over ``orders``, one parquet file per
micro-batch: batch 0 is a snapshot of every order (``op = 'I'``), the
later batches mix updates, deletes, inserts of new keys and repeated
deliveries of one key (the latest ``seq`` wins). File modification times
follow batch order, so a file stream reads the batches in order.

The same seed gives a byte-identical lake: ``content_hash`` proves it.

    python3 perfbench/lake.py --seed 1 --out /tmp/lake
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
SOURCE = REPO / "testdata" / "sf0.01"

REPLICAS = 2
PARTS = 4
# Key offsets per replica: above every key in the sf0.01 source.
ORDER_KEY_STEP = 100_000
CUST_KEY_STEP = 10_000
USER_ID_STEP = 1_000
EVENT_ID_STEP = 100_000

COPIED = ("region", "nation", "supplier", "part", "documents", "embeddings")
REPLICATED = ("customer", "orders", "lineitem", "events")
TABLES = COPIED + REPLICATED

_DAY_US = 86_400_000_000

CDC_BATCHES = 1  # change batches after the snapshot
CDC_UPDATES = 2_000
CDC_REPEATS = 300  # keys delivered twice within one batch
CDC_DELETES = 500
CDC_INSERTS = 500
CDC_NEW_KEY_BASE = (REPLICAS + 1) * ORDER_KEY_STEP
CDC_COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def _jitter_price(rng: np.random.Generator, col: pa.ChunkedArray) -> pa.Array:
    x = col.to_numpy()
    return pa.array(np.round(x * rng.uniform(0.97, 1.03, len(x)), 2))


def _shift_ts(rng: np.random.Generator, col: pa.ChunkedArray, lo_us: int, hi_us: int) -> pa.Array:
    us = pc.cast(col, pa.int64()).to_numpy() + rng.integers(lo_us, hi_us, len(col))
    return pa.array(us, type=pa.int64()).cast(col.type)


def _replica(name: str, t: pa.Table, r: int, rng: np.random.Generator) -> pa.Table:
    def put(tb: pa.Table, col: str, arr) -> pa.Table:
        return tb.set_column(tb.schema.get_field_index(col), col, arr)

    def offset(tb: pa.Table, col: str, step: int) -> pa.Table:
        return put(tb, col, pc.add(tb[col], pa.scalar(r * step, tb.schema.field(col).type)))

    if name == "customer":
        return offset(t, "c_custkey", CUST_KEY_STEP)
    if name == "orders":
        t = offset(offset(t, "o_orderkey", ORDER_KEY_STEP), "o_custkey", CUST_KEY_STEP)
        t = put(t, "o_totalprice", _jitter_price(rng, t["o_totalprice"]))
        return put(t, "o_orderdate", _shift_ts(rng, t["o_orderdate"], -3 * _DAY_US, 4 * _DAY_US))
    if name == "lineitem":
        t = offset(t, "l_orderkey", ORDER_KEY_STEP)
        t = put(t, "l_extendedprice", _jitter_price(rng, t["l_extendedprice"]))
        return put(t, "l_shipdate", _shift_ts(rng, t["l_shipdate"], -3 * _DAY_US, 4 * _DAY_US))
    if name == "events":
        t = offset(offset(t, "event_id", EVENT_ID_STEP), "user_id", USER_ID_STEP)
        t = put(t, "value", _jitter_price(rng, t["value"]))
        return put(t, "ts", _shift_ts(rng, t["ts"], 0, 3_600_000_000))
    raise ValueError(name)


def _write_parts(table: pa.Table, out_dir: Path) -> None:
    out_dir.mkdir(parents=True)
    per = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        pq.write_table(
            table.slice(i * per, per),
            out_dir / f"part-{i:05d}.parquet",
            compression="snappy",
            row_group_size=1 << 17,
        )


def _cdc_feed(orders: pa.Table, seed: int, out_dir: Path) -> None:
    out_dir.mkdir(parents=True)
    rng = np.random.default_rng([seed, 99])
    base = orders.select(list(CDC_COLUMNS))
    n = base.num_rows
    batches = [base.append_column("op", pa.array(["I"] * n))]
    for b in range(1, CDC_BATCHES + 1):
        upd_idx = rng.choice(n, CDC_UPDATES, replace=False)
        upd = base.take(np.concatenate([upd_idx, upd_idx[:CDC_REPEATS]]))
        upd = upd.set_column(3, "o_totalprice", _jitter_price(rng, upd["o_totalprice"]))
        upd = upd.set_column(2, "o_orderstatus", pa.array(["F"] * upd.num_rows))
        dele = base.take(rng.choice(n, CDC_DELETES, replace=False))
        new = base.take(rng.choice(n, CDC_INSERTS, replace=False))
        new = new.set_column(
            0, "o_orderkey",
            pa.array(CDC_NEW_KEY_BASE + b * CDC_INSERTS + np.arange(CDC_INSERTS), pa.int64()),
        )
        batches.append(pa.concat_tables([
            upd.append_column("op", pa.array(["U"] * upd.num_rows)),
            dele.append_column("op", pa.array(["D"] * CDC_DELETES)),
            new.append_column("op", pa.array(["I"] * CDC_INSERTS)),
        ]))
    for b, t in enumerate(batches):
        # seq is unique within the feed and increases with the batch, in a
        # seeded order inside each batch, so "latest per key" is exact.
        seq = b * 1_000_000 + rng.permutation(t.num_rows)
        path = out_dir / f"batch-{b:05d}.parquet"
        pq.write_table(t.append_column("seq", pa.array(seq, pa.int64())), path)
        os.utime(path, ns=(1_700_000_000_000_000_000 + b * 1_000_000_000,) * 2)


def generate(seed: int, out: Path) -> None:
    """Write the lake for ``seed`` into ``out`` (which must not exist)."""
    out.mkdir(parents=True)
    for name in COPIED:
        shutil.copyfile(SOURCE / f"{name}.parquet", out / f"{name}.parquet")
    for k, name in enumerate(REPLICATED):
        base = pq.read_table(SOURCE / f"{name}.parquet").replace_schema_metadata(None)
        rng = np.random.default_rng([seed, k])
        table = pa.concat_tables(_replica(name, base, r, rng) for r in range(REPLICAS))
        _write_parts(table, out / f"{name}.parquet")
        if name == "orders":
            _cdc_feed(table, seed, out / "cdc")


def content_hash(lake: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(lake.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(lake)).encode() + b"\0")
            h.update(p.read_bytes())
    return h.hexdigest()


def make_lake(seed: int, out: Path) -> dict:
    """Generate the lake for ``seed`` into ``out`` and return a record of
    it: generation time, content hash and ``lineitem`` row count."""
    t0 = time.perf_counter()
    generate(seed, out)
    return {
        "seed": seed,
        "generate_s": time.perf_counter() - t0,
        "content_sha256": content_hash(out),
        "lineitem_rows": pq.ParquetDataset(out / "lineitem.parquet").read(columns=["l_orderkey"]).num_rows,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=Path, required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
    print(content_hash(a.out))
