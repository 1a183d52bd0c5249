"""Independent oracle: DuckDB over the generated CDC rows, numpy for
vectors. Nothing here imports the package under test.

The expected changelog follows the reference semantics the program
implements: one ``NEW RECORD`` / ``DELETED RECORD`` marker per insert /
delete, and one (column, old, new) row per column whose value differs
between the paired update images (op 3 ⋈ op 4 on lsn and seqval), with
every value cast to text.
"""

from __future__ import annotations

import duckdb
import numpy as np

from gen import IMAGE_COLS, VALUE_COLS

KEY_COLS = ["table_name", "lsn", "seq", "id", "pk_json", "column_name", "old_value", "new_value"]
ROW_COLS = ["commit_time", *KEY_COLS]


def _text(col: str, side: str) -> str:
    # timestamps are written UTC-adjusted; their text is the UTC wall time
    if col == "updated_at":
        return f"{side}.{col}::TIMESTAMP::VARCHAR"
    return f"{side}.{col}::VARCHAR"


class CdcOracle:
    """Expected changelog of the first ``n`` windows, and the answers to
    every report over it."""

    def __init__(self, windows: list[dict]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        cdc = ", ".join(f"'{w['cdc']}'" for w in windows)
        maps = ", ".join(f"'{w['map']}'" for w in windows)
        self.con.execute(
            f"""CREATE TABLE cdc AS SELECT *,
                  ('0x' || substr("__$start_lsn", 7))::BIGINT AS lsn,
                  "__$seqval" AS seq, "__$operation" AS op,
                  regexp_extract(filename, 'window_(\\d+)', 1)::INT AS win
                FROM read_parquet([{cdc}], filename=true)"""
        )
        self.con.execute(
            f"""CREATE TABLE lmap AS SELECT DISTINCT lsn,
                  commit_ts::TIMESTAMP AS commit_time
                FROM read_parquet([{maps}])"""
        )
        marker = """SELECT win, table_name, lsn, seq, id, NULL::VARCHAR AS column_name,
                      {old} AS old_value, {new} AS new_value FROM cdc WHERE op = {op}"""
        parts = [
            marker.format(old="NULL::VARCHAR", new="'NEW RECORD'", op=2),
            marker.format(old="'DELETED RECORD'", new="NULL::VARCHAR", op=1),
        ]
        for c in IMAGE_COLS:
            parts.append(
                f"""SELECT b.win, b.table_name, b.lsn, b.seq, b.id, '{c}',
                      {_text(c, 'b')}, {_text(c, 'a')}
                    FROM cdc b JOIN cdc a ON a.lsn = b.lsn AND a.seq = b.seq
                     AND b.op = 3 AND a.op = 4
                    WHERE b.{c} IS DISTINCT FROM a.{c}"""
            )
        self.con.execute(
            f"""CREATE TABLE expected AS
                SELECT l.commit_time, e.*, '{{"id":' || e.id || '}}' AS pk_json
                FROM ({' UNION ALL '.join(parts)}) e JOIN lmap l USING (lsn)"""
        )

    def _count(self, query: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM ({query})").fetchone()[0]

    def _where(self, n_windows: int) -> str:
        return f"win < {int(n_windows)}"

    # -- sink ------------------------------------------------------------
    def check_sink(self, actual, n_windows: int) -> dict:
        """``actual``: Arrow table of the program's sink (ROW_COLS).
        Returns counts, order-insensitive hashes, and the mismatches."""
        self.con.register("actual_arrow", actual)
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW act AS SELECT commit_time::TIMESTAMP AS commit_time, "
            f"{', '.join(KEY_COLS)} FROM actual_arrow"
        )
        exp = f"SELECT {', '.join(ROW_COLS)} FROM expected WHERE {self._where(n_windows)}"
        act = f"SELECT {', '.join(ROW_COLS)} FROM act"
        h = "sum(hash({}))::VARCHAR".format(", ".join(ROW_COLS))
        out = {
            "rows_expected": self._count(exp),
            "rows_actual": self._count(act),
            "hash_expected": self.con.execute(f"SELECT {h} FROM ({exp})").fetchone()[0],
            "hash_actual": self.con.execute(f"SELECT {h} FROM ({act})").fetchone()[0],
            "missing": self._count(f"{exp} EXCEPT ALL {act}"),
            "extra": self._count(f"{act} EXCEPT ALL {exp}"),
        }
        self.con.unregister("actual_arrow")
        return out

    def watermarks(self, n_windows: int) -> dict[str, int]:
        return dict(
            self.con.execute(
                f"SELECT table_name, max(lsn) FROM cdc WHERE {self._where(n_windows)} GROUP BY 1"
            ).fetchall()
        )

    # -- reports ---------------------------------------------------------
    def range_rows(self, n_windows: int, d_from, d_to) -> list[tuple]:
        return self.con.execute(
            f"""SELECT table_name, lsn, seq, pk_json, column_name, old_value, new_value
                FROM expected WHERE {self._where(n_windows)}
                  AND commit_time::DATE BETWEEN ? AND ? ORDER BY ALL""",
            [d_from, d_to],
        ).fetchall()

    def range_summary(self, n_windows: int, d_from, d_to) -> list[tuple]:
        return self.con.execute(
            f"""SELECT table_name, column_name, count(*), count(DISTINCT pk_json)
                FROM expected WHERE {self._where(n_windows)}
                  AND commit_time::DATE BETWEEN ? AND ? GROUP BY ALL ORDER BY ALL""",
            [d_from, d_to],
        ).fetchall()

    def key_audit(self, n_windows: int, table: str, key: int) -> list[tuple]:
        return self.con.execute(
            f"""SELECT lsn, seq, column_name, old_value, new_value FROM expected
                WHERE {self._where(n_windows)} AND table_name = ? AND id = ?
                ORDER BY ALL""",
            [table, key],
        ).fetchall()

    def freshness(self, n_windows: int) -> str | None:
        return self.con.execute(
            "SELECT strftime(max(commit_time), '%m/%d/%Y') FROM expected "
            f"WHERE {self._where(n_windows)}"
        ).fetchone()[0]

    def state_as_of(self, n_windows: int, table: str, as_of_lsn: int) -> list[tuple]:
        """Live rows of ``table`` at ``as_of_lsn``: the latest marker
        decides liveness, and a column keeps its last written value only
        when that write follows the key's last delete."""
        vals = ", ".join(
            f"""arg_max_null(new_value, ord)
                FILTER (WHERE column_name = '{c}' AND ord > coalesce(del_ord, -1))"""
            for c in VALUE_COLS
        )
        return self.con.execute(
            f"""WITH log AS (
                  SELECT *, lsn * 1000000 + seq AS ord FROM expected
                  WHERE {self._where(n_windows)} AND table_name = ? AND lsn <= ?),
                keys AS (
                  SELECT id,
                    arg_max_null(old_value IS NOT DISTINCT FROM 'DELETED RECORD', ord)
                      FILTER (WHERE column_name IS NULL) AS dead,
                    max(ord) FILTER (WHERE old_value = 'DELETED RECORD') AS del_ord
                  FROM log GROUP BY id)
                SELECT l.id, {vals}
                FROM log l JOIN keys k USING (id)
                WHERE NOT coalesce(k.dead, false)
                GROUP BY l.id ORDER BY l.id""",
            [table, as_of_lsn],
        ).fetchall()


# -- vectors -----------------------------------------------------------------


def exact_topk(corpus_ids, corpus, q, k: int) -> np.ndarray:
    sims = q @ corpus.T
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return corpus_ids[idx]


def dedup_truth(corpus, ids, vecs, threshold: float) -> dict[int, set[int]]:
    """new id → every id it may legally be marked a duplicate of: a
    corpus vector, or a smaller-id vector of its own batch, at cosine
    (rounded to 6 places, as the program rounds) ≥ threshold."""
    sc = np.round(vecs @ corpus.T, 6)
    sb = np.round(vecs @ vecs.T, 6)
    out = {}
    for i, nid in enumerate(ids):
        ok = set(np.nonzero(sc[i] >= threshold)[0].tolist())
        ok |= {int(ids[j]) for j in np.nonzero(sb[i] >= threshold)[0] if ids[j] < nid}
        out[int(nid)] = ok
    return out
