"""Seeded input generator for the CDC reporting benchmark.

Everything the program under test reads is written here, from the seed
alone: the same seed and parameters give byte-identical files.

CDC stream (SQL Server ``fn_cdc_get_all_changes`` shape):
  ``cdc/window_NNNNN.parquet`` — one file per capture window, columns
  ``__$start_lsn`` (0x-prefixed hex), ``__$seqval``, ``__$operation``
  (1 delete, 2 insert, 3/4 update before/after pair), ``__$update_mask``,
  ``table_name`` and the row image (``IMAGE_COLS``).
  ``lsnmap/window_NNNNN.parquet`` — the monotone (lsn, commit_ts) map of
  the window's transactions (``fn_cdc_map_lsn_to_time``).

Embedding corpus: ``emb/corpus.parquet`` (vec_id, embedding) of unit
vectors around seeded cluster centres, plus dedup batches and ANN query
batches with planted near-duplicates of corpus vectors and of each other.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PK = "id"
# one image schema shared by every table: 12 typed columns
IMAGE_COLS = [
    "id", "name", "city", "status", "qty", "score", "price", "balance",
    "birth", "updated_at", "active", "note",
]
IMAGE_TYPES = {
    "id": pa.int64(),
    "name": pa.string(),
    "city": pa.string(),
    "status": pa.string(),
    "qty": pa.int32(),
    "score": pa.int64(),
    "price": pa.decimal128(12, 2),
    "balance": pa.decimal128(18, 4),
    "birth": pa.date32(),
    "updated_at": pa.timestamp("us", tz="UTC"),
    "active": pa.bool_(),
    "note": pa.string(),
}
NULLABLE = {"price", "balance", "birth", "note"}
VALUE_COLS = IMAGE_COLS[1:]

EPOCH = dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc)
SPAN_DAYS = 730  # ~24 months of commit time
LSN_BASE = 0x0000_002A_0000_0100

CITIES = [f"city_{i:02d}" for i in range(40)]
STATUSES = ["new", "active", "suspended", "closed", "review"]


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def table_names(n_tables: int) -> list[str]:
    return [f"tbl_{i}" for i in range(n_tables)]


class _Values:
    """Draws column values; every draw comes from the one seeded stream."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def draw(self, col: str):
        r = self.rng.randrange
        if col in NULLABLE and self.rng.random() < 0.15:
            return None
        if col == "name":
            return f"name_{r(5000)}"
        if col == "city":
            return CITIES[r(len(CITIES))]
        if col == "status":
            return STATUSES[r(len(STATUSES))]
        if col == "qty":
            return r(1000)
        if col == "score":
            return r(10**9)
        if col == "price":
            return Decimal(r(-10**6, 10**7)).scaleb(-2)
        if col == "balance":
            return Decimal(r(-10**9, 10**10)).scaleb(-4)
        if col == "birth":
            return dt.date(1950, 1, 1) + dt.timedelta(days=r(20000))
        if col == "updated_at":
            return EPOCH + dt.timedelta(seconds=r(SPAN_DAYS * 86400))
        if col == "active":
            return bool(r(2))
        if col == "note":
            return f"note {r(10**6)}"
        raise KeyError(col)

    def changed(self, col: str, old):
        """A value that differs from ``old`` (NULL↔value transitions
        included for nullable columns)."""
        if col in NULLABLE:
            if old is None:
                while True:
                    v = self.draw(col)
                    if v is not None:
                        return v
            if self.rng.random() < 0.25:
                return None
        if col == "active":
            return not old
        while True:
            v = self.draw(col)
            if v is not None and v != old:
                return v


def cdc_stream(seed: int, p: dict) -> list[dict]:
    """The whole capture as a list of windows; each window is a dict of
    column lists (``rows``) plus its lsn→time map and LSN bounds.

    Parameters (``p``): n_tables, table_zipf, keys_per_table, key_zipf,
    op_mix [insert, update, delete], n_windows, events_per_window,
    max_txn_events."""
    rng = np.random.default_rng([seed, 1])
    vals = _Values(random.Random(seed))
    tables = table_names(p["n_tables"])
    t_probs = zipf_probs(len(tables), p["table_zipf"])
    n_keys = p["keys_per_table"]
    k_probs = zipf_probs(n_keys, p["key_zipf"])
    mix = np.asarray(p["op_mix"], dtype=np.float64)
    mix = mix / mix.sum()
    live: list[dict[int, tuple]] = [{} for _ in tables]
    n_win, per_win = p["n_windows"], p["events_per_window"]
    total = n_win * per_win
    # transactions: 1..max_txn_events events share one LSN; commit times
    # are spread monotonically over SPAN_DAYS
    txn_sizes = rng.integers(1, p["max_txn_events"] + 1, size=total)
    n_txn = int(np.searchsorted(np.cumsum(txn_sizes), total) + 1)
    txn_sizes = txn_sizes[:n_txn]
    gaps = rng.exponential(1.0, size=n_txn)
    t_sec = np.cumsum(gaps) / gaps.sum() * (SPAN_DAYS * 86400 - 1)
    lsn_gaps = rng.integers(1, 64, size=n_txn)
    lsns = LSN_BASE + np.cumsum(lsn_gaps)

    tbl_draw = rng.choice(len(tables), size=total, p=t_probs)
    op_draw = rng.choice(3, size=total, p=mix)
    key_draw = rng.choice(n_keys, size=(total, 8), p=k_probs)
    ncols_draw = rng.integers(1, len(VALUE_COLS) + 1, size=total)

    windows = []
    cols = {c: [] for c in ["__$start_lsn", "__$seqval", "__$operation",
                            "__$update_mask", "table_name", *IMAGE_COLS]}
    full_mask = (1 << len(IMAGE_COLS)) - 1

    def emit(lsn, seq, op, mask, tname, image):
        cols["__$start_lsn"].append(f"0x{lsn:020x}")
        cols["__$seqval"].append(seq)
        cols["__$operation"].append(op)
        cols["__$update_mask"].append(mask)
        cols["table_name"].append(tname)
        for c, v in zip(IMAGE_COLS, image):
            cols[c].append(v)

    ev = seq = txn = fresh = 0
    win_map_lsn: list[int] = []
    win_map_ts: list[dt.datetime] = []
    while ev < total:
        lsn = int(lsns[txn])
        ts = EPOCH + dt.timedelta(seconds=int(t_sec[txn]))
        win_map_lsn.append(lsn)
        win_map_ts.append(ts)
        used: set[tuple[int, int]] = set()
        for _ in range(int(txn_sizes[txn])):
            if ev >= total:
                break
            ti = int(tbl_draw[ev])
            tname = tables[ti]
            state = live[ti]
            op = int(op_draw[ev])  # 0 insert, 1 update, 2 delete
            key = None
            if op == 0:
                for k in key_draw[ev]:
                    if int(k) not in state and (ti, int(k)) not in used:
                        key = int(k)
                        break
                if key is None:  # hot keys all live: take a fresh one
                    key, fresh = n_keys + fresh, fresh + 1
            else:
                for k in key_draw[ev]:
                    if int(k) in state and (ti, int(k)) not in used:
                        key = int(k)
                        break
                if key is None:
                    cand = [k for k in state if (ti, k) not in used]
                    if cand:
                        key = cand[vals.rng.randrange(len(cand))]
                    else:  # nothing live to change: insert instead
                        op, key, fresh = 0, n_keys + fresh, fresh + 1
            used.add((ti, key))
            seq += 1
            if op == 0:
                image = (key, *[vals.draw(c) for c in VALUE_COLS])
                state[key] = image
                emit(lsn, seq, 2, full_mask, tname, image)
            elif op == 2:
                image = state.pop(key)
                emit(lsn, seq, 1, full_mask, tname, image)
            else:
                before = state[key]
                n_ch = int(ncols_draw[ev])
                idx = sorted(vals.rng.sample(range(len(VALUE_COLS)), n_ch))
                after = list(before)
                mask = 0
                for i in idx:  # image ordinal i + 1: the key is ordinal 0
                    after[i + 1] = vals.changed(VALUE_COLS[i], before[i + 1])
                    mask |= 1 << (i + 1)
                after = tuple(after)
                state[key] = after
                emit(lsn, seq, 3, mask, tname, before)
                emit(lsn, seq, 4, mask, tname, after)
            ev += 1
        txn += 1
        # windows close on transaction boundaries, like an LSN-bounded
        # (from_lsn, to_lsn] capture: a transaction never straddles two
        if ev >= (len(windows) + 1) * per_win or ev >= total:
            windows.append(
                {"rows": cols, "map": (win_map_lsn, win_map_ts), "to_lsn": lsn}
            )
            cols = {c: [] for c in cols}
            win_map_lsn, win_map_ts = [], []
    return windows


CDC_SCHEMA = pa.schema(
    [
        ("__$start_lsn", pa.string()),
        ("__$seqval", pa.int64()),
        ("__$operation", pa.int32()),
        ("__$update_mask", pa.int64()),
        ("table_name", pa.string()),
        *[(c, IMAGE_TYPES[c]) for c in IMAGE_COLS],
    ]
)
MAP_SCHEMA = pa.schema(
    [("lsn", pa.int64()), ("commit_ts", pa.timestamp("us", tz="UTC"))]
)


def write_cdc(seed: int, p: dict, out_dir: str) -> list[dict]:
    """Write one CDC file and one lsn-map file per window under
    ``out_dir``; returns per-window metadata (paths, to_lsn, row count,
    bytes, first/last commit time)."""
    os.makedirs(os.path.join(out_dir, "cdc"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "lsnmap"), exist_ok=True)
    meta = []
    for w, win in enumerate(cdc_stream(seed, p)):
        cdc_path = os.path.join(out_dir, "cdc", f"window_{w:05d}.parquet")
        map_path = os.path.join(out_dir, "lsnmap", f"window_{w:05d}.parquet")
        pq.write_table(
            pa.Table.from_pydict(win["rows"], schema=CDC_SCHEMA), cdc_path
        )
        m_l, m_t = win["map"]
        pq.write_table(
            pa.Table.from_pydict({"lsn": m_l, "commit_ts": m_t}, schema=MAP_SCHEMA),
            map_path,
        )
        meta.append(
            {
                "cdc": cdc_path,
                "map": map_path,
                "to_lsn": win["to_lsn"],
                "rows": len(win["rows"]["table_name"]),
                # an update is two CDC rows (op 3 + op 4) but one event
                "events": len(win["rows"]["table_name"]) - win["rows"]["__$operation"].count(3),
                "bytes": os.path.getsize(cdc_path),
                "first_ts": m_t[0],
                "last_ts": m_t[-1],
            }
        )
    return meta


# --- embeddings -----------------------------------------------------------

EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]
)


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _near(rng: np.random.Generator, v: np.ndarray, noise: float) -> np.ndarray:
    return _unit(v + rng.normal(0.0, noise, size=v.shape))


def embeddings(seed: int, p: dict) -> dict:
    """Corpus plus ``n_batches`` dedup batches and ``n_batches`` query
    batches. Parameters: dim, corpus, clusters, cluster_noise, batch,
    planted_corpus_frac, planted_batch_frac, dup_noise, queries,
    n_batches."""
    rng = np.random.default_rng([seed, 2])
    dim = p["dim"]
    centres = _unit(rng.normal(size=(p["clusters"], dim)))

    def fresh(n):
        c = rng.integers(0, len(centres), size=n)
        return _near(rng, centres[c], p["cluster_noise"])

    corpus = fresh(p["corpus"])
    batches, planted, queries = [], [], []
    next_id = 1_000_000
    for _ in range(p["n_batches"]):
        n = p["batch"]
        vecs = fresh(n)
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        pairs = []
        n_c = int(n * p["planted_corpus_frac"])
        n_b = int(n * p["planted_batch_frac"])
        slots = rng.permutation(n)
        for s in slots[:n_c]:  # near-duplicate of a corpus vector
            j = int(rng.integers(0, len(corpus)))
            vecs[s] = _near(rng, corpus[j][None, :], p["dup_noise"])[0]
            pairs.append((int(ids[s]), j))
        # near-duplicates of an earlier batch row, in slot order: a source
        # that is itself a planted copy is final before it is copied
        for s in sorted(slots[n_c:n_c + n_b]):
            if s == 0:
                continue
            src = int(rng.integers(0, s))
            vecs[s] = _near(rng, vecs[src][None, :], p["dup_noise"])[0]
            pairs.append((int(ids[s]), int(ids[src])))
        batches.append((ids, vecs))
        planted.append(pairs)
        qv = fresh(p["queries"])
        qids = np.arange(next_id, next_id + len(qv), dtype=np.int64)
        next_id += len(qv)
        queries.append((qids, qv))
    return {
        "corpus": (np.arange(len(corpus), dtype=np.int64), corpus),
        "batches": batches,
        "planted": planted,
        "queries": queries,
    }


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    pq.write_table(
        pa.Table.from_pydict(
            {"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]},
            schema=EMB_SCHEMA,
        ),
        path,
    )


def write_embeddings(seed: int, p: dict, out_dir: str) -> dict:
    os.makedirs(os.path.join(out_dir, "emb"), exist_ok=True)
    e = embeddings(seed, p)
    write_vectors(os.path.join(out_dir, "emb", "corpus.parquet"), *e["corpus"])
    for b, (ids, vecs) in enumerate(e["batches"]):
        write_vectors(os.path.join(out_dir, "emb", f"batch_{b:04d}.parquet"), ids, vecs)
    for b, (ids, vecs) in enumerate(e["queries"]):
        write_vectors(os.path.join(out_dir, "emb", f"query_{b:04d}.parquet"), ids, vecs)
    e["dir"] = os.path.join(out_dir, "emb")
    return e
