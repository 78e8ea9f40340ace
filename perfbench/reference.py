"""Reference results, computed from the generated inputs without Spark
and outside the timed windows.

- CDC: keep-last over snapshot + applied log in DuckDB, deletes removed
  and the reference's TRUNCATE cut (K3) applied: a table's rows at or
  before its last applied T are gone.
- Queries: the registry's DuckDB oracle SQL over the same parquet files,
  compared as order-insensitive row multisets.
- Ingest: the C4 gate and the MinHash/LSH admission rule replayed in
  plain Python, batch by batch.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import random
import re

import duckdb
import numpy as np
import pandas as pd

# -- CDC -------------------------------------------------------------------

_CDC_SQL = """
WITH snap AS (
    {snap}
), log AS (
    SELECT seq, op, tbl, user_id, value
    FROM read_parquet('{log}') WHERE seq <= {cursor}
), allrows AS (
    SELECT * FROM snap UNION ALL SELECT * FROM log
), cut AS (
    SELECT tbl, max(seq) AS cut FROM log WHERE op = 'T' GROUP BY tbl
), live AS (
    SELECT a.* FROM allrows a LEFT JOIN cut c USING (tbl)
    WHERE {cut_filter}
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY tbl, user_id ORDER BY seq DESC) AS rn
    FROM live
)
SELECT tbl, user_id, value, seq AS last_seq FROM ranked
WHERE rn = 1 AND op <> 'D'
"""


def cdc_reference(con, snapshot_dir: str, log_glob: str, cursor: int,
                  tables: list[str], truncate_cut: bool = True) -> str:
    """SQL for the expected replica rows (tbl, user_id, value, last_seq).
    With ``truncate_cut=False`` a T event is kept as an ordinary row with
    a NULL key and no cut: the behaviour of the current SyncJob
    (ROADMAP item 1), used to tell that known defect from new ones."""
    snap = " UNION ALL ".join(
        f"SELECT -1::BIGINT AS seq, 'I' AS op, '{t}' AS tbl, user_id, value "
        f"FROM read_parquet('{os.path.join(snapshot_dir, t)}.parquet')"
        for t in tables
    )
    cut_filter = (
        "c.cut IS NULL OR a.seq > c.cut" if truncate_cut else "TRUE"
    )
    return _CDC_SQL.format(snap=snap, log=log_glob, cursor=cursor,
                           cut_filter=cut_filter)


def replica_sql(target_root: str, tables: list[str]) -> str:
    """The visible rows of each table's current replica version."""
    parts = []
    for t in tables:
        with open(os.path.join(target_root, t, "_CURRENT")) as f:
            v = int(f.read().strip())
        path = os.path.join(target_root, t, f"v_{v:04d}", "*.parquet")
        parts.append(
            f"SELECT '{t}' AS tbl, user_id, value, last_seq "
            f"FROM read_parquet('{path}') WHERE NOT __deleted"
        )
    return " UNION ALL ".join(parts)


def sym_diff_rows(con, a_sql: str, b_sql: str) -> int:
    """Rows in a but not b plus rows in b but not a (multisets, NULLs
    compare equal)."""
    q = (f"SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))) + "
         f"(SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))")
    return int(con.execute(q).fetchone()[0])


def check_cdc(snapshot_dir: str, log_glob: str, target_root: str, cursor: int,
              tables: list[str]) -> dict:
    """Compare the replica with the reference. ``mismatch_rows`` counts
    rows that differ from the true reference; ``known_defect`` is True
    when every difference is the TRUNCATE-as-NULL-key-row behaviour."""
    con = duckdb.connect()
    try:
        rep = replica_sql(target_root, tables)
        true_ref = cdc_reference(con, snapshot_dir, log_glob, cursor, tables)
        mismatch = sym_diff_rows(con, rep, true_ref)
        defect = 0
        if mismatch:
            defect_ref = cdc_reference(con, snapshot_dir, log_glob, cursor,
                                       tables, truncate_cut=False)
            defect = sym_diff_rows(con, rep, defect_ref)
        rows = int(con.execute(f"SELECT count(*) FROM ({rep})").fetchone()[0])
    finally:
        con.close()
    return {
        "replica_rows": rows,
        "mismatch_rows": mismatch,
        "known_defect": mismatch > 0 and defect == 0,
        "ok": mismatch == 0 or defect == 0,
    }


# -- registry queries ------------------------------------------------------


def _norm_cell(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None) if v.tzinfo else v
    if v is pd.NaT:
        return None
    return v


def frame_digest(df: pd.DataFrame) -> tuple[tuple[str, ...], str]:
    """Column names and an order-insensitive digest of the rows, floats
    rounded to 6 places."""
    cols = tuple(sorted(df.columns))
    rows = sorted(
        repr(tuple(_norm_cell(v) for v in r))
        for r in df[list(cols)].itertuples(index=False, name=None)
    )
    return cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_digests(data_dir: str, tables: list[str], oracles: dict[str, str],
                   names: list[str]) -> dict[str, tuple]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        return {
            n: frame_digest(con.execute(oracles[n]).fetchdf())
            for n in names if n in oracles
        }
    finally:
        con.close()


# -- corpus ingest ---------------------------------------------------------

_P32 = 4294967311
_WS = re.compile(r"\s+")


def c4_keep(text: str) -> bool:
    """Python twin of streaming.corpus_ingest.c4_quality_gate."""
    toks = _WS.split(text.lower().strip())
    n = len(toks)
    if n == 0:
        return False
    mean_x100 = math.floor(sum(len(t) for t in toks) * 100 / n)
    alpha_x100 = math.floor(sum(1 for t in toks if re.search("[a-z]", t)) * 100 / n)
    return (50 <= n <= 100_000 and 300 <= mean_x100 <= 1000
            and alpha_x100 >= 80 and "{" not in text
            and "lorem ipsum" not in text.lower())


def _perm_params(n_hashes: int, seed: int = 42):
    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
            for _ in range(n_hashes)]


def minhash(text: str, params) -> np.ndarray | None:
    """MinHash over distinct 3-word shingles with md5-based h32 and the
    universal-hash family (a*h+b) mod P32; None for < 3 tokens."""
    toks = _WS.split(text.lower().strip())
    if len(toks) < 3:
        return None
    shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    # h < 2^32 and a, b < 2^31, so a*h + b stays below 2^64
    h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                  for s in shingles], dtype=np.uint64)
    return np.array([int(((h * np.uint64(a) + np.uint64(b)) % np.uint64(_P32)).min())
                     for a, b in params], dtype=np.int64)


def band_keys(sig: np.ndarray, n_bands: int) -> list[tuple[int, int]]:
    rows = len(sig) // n_bands
    out = []
    for b in range(n_bands):
        s = ",".join(str(int(x)) for x in sig[b * rows:(b + 1) * rows])
        out.append((b, int(hashlib.md5(s.encode()).hexdigest()[:15], 16)))
    return out


def ingest_reference(batches: list[list[tuple[int, str]]], threshold: float = 0.5,
                     n_hashes: int = 32, n_bands: int = 8) -> set[int]:
    """Admitted doc ids: per batch, gate; a gated doc is dropped when it
    shares a band with, and has estimated Jaccard >= ``threshold`` to,
    an admitted doc of an earlier batch or any lower-id gated doc of its
    own batch. Docs too short to shingle dedup on exact normalized text."""
    params = _perm_params(n_hashes)
    hist_bands: dict[tuple[int, int], list[int]] = {}
    sigs: dict[int, np.ndarray] = {}
    hist_shorts: set[str] = set()
    admitted: set[int] = set()
    for batch in batches:
        gated = sorted((i, t) for i, t in batch if c4_keep(t))
        batch_bands: dict[tuple[int, int], list[int]] = {}
        batch_shorts: dict[str, int] = {}
        new = []
        for doc_id, text in gated:
            sig = minhash(text, params)
            if sig is None:
                key = text.lower().strip()
                dup = key in hist_shorts or key in batch_shorts
                batch_shorts.setdefault(key, doc_id)
                if not dup:
                    new.append((doc_id, None, key))
                continue
            sigs[doc_id] = sig
            keys = band_keys(sig, n_bands)
            cands = {o for k in keys
                     for o in hist_bands.get(k, []) + batch_bands.get(k, [])}
            dup = any(
                np.mean(sig == sigs[o]) >= threshold
                for o in cands
            )
            for k in keys:
                batch_bands.setdefault(k, []).append(doc_id)
            if not dup:
                new.append((doc_id, keys, None))
        for doc_id, keys, short in new:
            admitted.add(doc_id)
            if keys is None:
                hist_shorts.add(short)
            else:
                for k in keys:
                    hist_bands.setdefault(k, []).append(doc_id)
    return admitted


def read_corpus_ids(corpus_dir: str) -> list[int]:
    files = [f for f in glob.glob(os.path.join(corpus_dir, "**", "*.parquet"),
                                  recursive=True)
             if not os.path.basename(f).startswith(("_", "."))]
    if not files:
        return []
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet({files!r})").fetchall()]
    finally:
        con.close()
