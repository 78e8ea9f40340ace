"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from ``--seed``:
the CDC snapshot and change log, the open-loop change generator that
feeds ``cdc_fresh``, a TPC-H-shaped star schema plus ``events`` for the
registry queries, and a ``documents`` corpus for ingest. The same seed
gives the same rows; only the creation stamps of the open-loop
generator depend on the clock.

Run as a script, this module is the open-loop generator process:

    python3 perfbench/gen.py --out DIR --seed N --rate EPS --interval S \
        --first-seq SEQ --keys K --stop-file PATH --stats PATH
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TABLES = 4
# change-log op mix: mostly updates, some inserts and deletes; TRUNCATE
# events are placed separately at a stated rate (T_EVERY)
OP_MIX = {"U": 0.80, "I": 0.10, "D": 0.10}
ZIPF_S = 0.99
T_EVERY = 100_000
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

CHANGELOG_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("tbl", pa.string()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write under a dot-prefixed name and rename: Spark's file listing
    skips dot files, so a reader never sees a half-written part."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.inprogress")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


# -- CDC ------------------------------------------------------------------


class ZipfKeys:
    """Bounded Zipf(s) over ``n`` keys; rank r maps to a seeded random
    key so the hot keys spread over all four tables."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n).astype(np.int64)

    def sample(self, rng: np.random.Generator, k: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(k), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def cdc_snapshot(seed: int, n_keys: int) -> dict[str, pa.Table]:
    """Snapshot rows for tables t0..t3 (``user_id % 4`` routes a key to
    its table, the same convention as the change log)."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n_keys, dtype=np.int64)
    values = np.round(rng.random(n_keys) * 1000, 2)
    ts = pa.array(BASE_TS_US + keys, pa.timestamp("us", tz="UTC"))
    out = {}
    for t in range(N_TABLES):
        m = keys % N_TABLES == t
        out[f"t{t}"] = pa.table(
            {"user_id": keys[m], "value": values[m], "ts": ts.filter(pa.array(m))}
        )
    return out


OPS = pa.array(["U", "I", "D", "T"])
TABLES = pa.array([f"t{i}" for i in range(N_TABLES)])


def change_batch(
    rng: np.random.Generator,
    zipf: ZipfKeys,
    first_seq: int,
    n: int,
    next_insert_key: int,
    ts_us: np.ndarray | int,
) -> tuple[pa.Table, int]:
    """``n`` changes starting at ``first_seq``. Updates and deletes pick
    Zipf-skewed existing keys, inserts take fresh keys from
    ``next_insert_key``; every seq that is a multiple of T_EVERY (after
    the first) is a TRUNCATE of a seeded table, carrying a NULL key.
    Returns the batch and the next free insert key."""
    seqs = np.arange(first_seq, first_seq + n, dtype=np.int64)
    u = rng.random(n)
    op_idx = np.where(u < OP_MIX["U"], 0, np.where(u < OP_MIX["U"] + OP_MIX["I"], 1, 2))
    keys = zipf.sample(rng, n)
    ins = op_idx == 1
    n_ins = int(ins.sum())
    keys[ins] = np.arange(next_insert_key, next_insert_key + n_ins, dtype=np.int64)
    values = np.round(rng.random(n) * 1000, 2)
    tbl_idx = keys % N_TABLES
    trunc = (seqs % T_EVERY == 0) & (seqs > 0)
    trunc_tables = rng.integers(0, N_TABLES, n)
    op_idx[trunc] = 3
    tbl_idx[trunc] = trunc_tables[trunc]
    ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,))
    batch = pa.table(
        [
            pa.array(seqs),
            OPS.take(pa.array(op_idx)),
            TABLES.take(pa.array(tbl_idx)),
            pa.array(keys, pa.int64(), mask=trunc),
            pa.array(values, pa.float64(), mask=trunc),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=CHANGELOG_SCHEMA,
    )
    return batch, next_insert_key + n_ins


def cdc_backlog(seed: int, n_keys: int, n_events: int, part_events: int,
                out_dir: str) -> int:
    """Write ``n_events`` changes as parquet parts of ``part_events``
    under ``out_dir`` (the closed-loop backlog). Returns the part count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    zipf = ZipfKeys(rng, n_keys)
    nxt = n_keys
    parts = 0
    for first in range(0, n_events, part_events):
        n = min(part_events, n_events - first)
        batch, nxt = change_batch(
            rng, zipf, first, n, nxt, BASE_TS_US + np.arange(first, first + n)
        )
        write_atomic(batch, os.path.join(out_dir, f"part-{parts:06d}.parquet"))
        parts += 1
    return parts


class OpenLoopGenerator:
    """Appends one change-log part every ``interval`` seconds at ``rate``
    events/s. Part ``i`` is due at ``start + i * interval`` whatever the
    consumer does: a late part is written at once and the schedule is
    not shifted, so a stall shows up as lateness, never as a lower rate.
    Part contents depend only on the seed and the part index; each event
    is stamped with the wall-clock time its part was created."""

    def __init__(self, out_dir: str, seed: int, rate: float, interval: float,
                 first_seq: int, n_keys: int, clock=time.time, sleep=time.sleep):
        self.out_dir = out_dir
        self.per_part = max(1, int(round(rate * interval)))
        self.interval = interval
        self.next_seq = first_seq
        self.clock, self.sleep = clock, sleep
        self.rng = np.random.default_rng([seed, 3])
        self.zipf = ZipfKeys(self.rng, n_keys)
        self.next_key = n_keys + 10_000_000
        self.parts = 0
        self.late_s_max = 0.0
        # (created_at, last seq written) per part: the backlog timeline
        self.timeline: list[tuple[float, int]] = []
        os.makedirs(out_dir, exist_ok=True)

    def step(self, due: float) -> None:
        now = self.clock()
        if now < due:
            self.sleep(due - now)
            now = self.clock()
        self.late_s_max = max(self.late_s_max, now - due)
        batch, self.next_key = change_batch(
            self.rng, self.zipf, self.next_seq, self.per_part, self.next_key,
            int(now * 1_000_000),
        )
        write_atomic(
            batch, os.path.join(self.out_dir, f"gen-{self.parts:06d}.parquet")
        )
        self.next_seq += self.per_part
        self.parts += 1
        self.timeline.append((now, self.next_seq - 1))

    def run(self, start: float, should_stop) -> None:
        while not should_stop():
            self.step(start + self.parts * self.interval)

    def stats(self) -> dict:
        return {
            "parts": self.parts,
            "events": self.parts * self.per_part,
            "late_s_max": self.late_s_max,
            "timeline": self.timeline,
        }


# -- registry-query tables -------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query a big key window row table stream merge "
    "data join vector customer the"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]


def _ts(days: np.ndarray, start="1995-01-01") -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus ``events`` with the registry's schema
    (FIXTURES.md), sized by ``sf`` like the repository's fixtures."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_ev = int(200_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(P_ADJ, n_part), " "),
                              rng.choice(P_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lo)
    t["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 100_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.01, 500),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def documents(seed: int, n: int, dup_share: float = 0.15) -> pa.Table:
    """A ``documents`` corpus: bag-of-words texts of 10..90 words over a
    small vocabulary, so some fail the C4 gate on length, a few carry
    '{' or 'lorem ipsum', and ``dup_share`` of them are near-copies
    (one word changed) of an earlier document."""
    rng = np.random.default_rng([seed, 5])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 91))))
            r = rng.random()
            if r < 0.02:
                words.insert(1, "{x}")
            elif r < 0.04:
                words[:2] = ["lorem", "ipsum"]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--first-seq", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--start", type=float, required=True,
                    help="epoch seconds at which part 0 is due")
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--stats", required=True)
    a = ap.parse_args(argv)
    gen = OpenLoopGenerator(a.out, a.seed, a.rate, a.interval, a.first_seq, a.keys)
    gen.run(a.start, lambda: os.path.exists(a.stop_file))
    tmp = a.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(gen.stats(), f)
    os.replace(tmp, a.stats)
    return 0


if __name__ == "__main__":
    sys.exit(main())
