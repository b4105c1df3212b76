"""Output checking: DuckDB oracles and the order-insensitive canonical hash.

``canon``/``hash_rows`` reproduce the comparison of ``tools/check.py``
(columns sorted by name, rows sorted, floats rounded to 9 places), so a
result that passes here passes the repository's correctness gate.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from osm_poi_database_maker_spark.queries import ORACLES, ORACLES_BIG

SOURCE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Expected:
    """What an op must return: sorted column names, row count, value hash."""

    def __init__(self, cols: list[str], rows: list[tuple]):
        self.cols = sorted(cols)
        self.n_rows = len(rows)
        self.hash = hash_rows(cols, rows)

    def mismatch(self, cols: list[str], rows: list[tuple]) -> str | None:
        """None when (cols, rows) match, else a one-line reason."""
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != {self.cols}"
        if len(rows) != self.n_rows:
            return f"row count {len(rows)} != {self.n_rows}"
        got = hash_rows(cols, rows)
        if got != self.hash:
            return f"value hash {got} != {self.hash}"
        return None


def duck_expected(con: duckdb.DuckDBPyConnection, sql: str) -> Expected:
    rel = con.sql(sql)
    huge = [c for c, t in zip(rel.columns, rel.types) if str(t).upper() in ("HUGEINT", "UHUGEINT")]
    if huge:
        # tools/check.py rejects these: pandas-side canonicalizers read
        # HUGEINT as float64, so the oracle itself is at fault
        raise ValueError(f"oracle emits HUGEINT column(s) {huge}")
    return Expected(list(rel.columns), rel.fetchall())


def registry_oracles(data_dir: str, names: list[str], sf: float) -> dict[str, Expected]:
    """Expected result of each registry query over ``data_dir``; the
    sub-quadratic ``ORACLES_BIG`` forms apply at SF >= 0.1, as in
    ``tools/check.py``."""
    oracles = {**ORACLES, **ORACLES_BIG} if sf >= 0.1 else ORACLES
    con = duckdb.connect()
    try:
        for t in SOURCE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: duck_expected(con, oracles[n]) for n in names}
    finally:
        con.close()
