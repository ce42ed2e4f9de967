"""Output checks. They run outside the timed passes and feed ``failed``.

- ``hourly_elt``: a pure-Python model of the delivered payloads (the last
  delivery of a day wins; malformed times never reach the warehouse).
- ``lakehouse``: exact row counts; the table's canonical Arrow rows
  compared across steps and with a pyarrow model; the declared queries'
  rows hashed against their DuckDB oracle SQL over the same files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from collections.abc import Iterable, Sequence


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def rows_hash(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Hash of the rows with columns ordered by name and rows sorted, so
    neither column nor row order matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return f"{len(lines)}:{h.hexdigest()[:32]}"


def canon_table(t):
    """``t`` with columns ordered by name, rows sorted, timestamps
    without a zone and strings in one width, so two canonical tables
    are ``equals`` exactly when they hold the same rows."""
    import pyarrow as pa

    cols = sorted(t.column_names)
    fields = []
    for f in t.select(cols).schema:
        typ = f.type
        if pa.types.is_timestamp(typ):
            typ = pa.timestamp(typ.unit)
        elif pa.types.is_large_string(typ):
            typ = pa.string()
        fields.append(pa.field(f.name, typ))
    t = t.select(cols).cast(pa.schema(fields))
    return t.sort_by([(c, "ascending") for c in cols]).combine_chunks()


def oracle_hash(data_dir: str, sql: str, tables: Iterable[str]) -> str:
    """Row hash of a DuckDB oracle query over the parquet files in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        rel = con.sql(sql)
        return rows_hash(rel.columns, rel.fetchall())
    finally:
        con.close()


# --- hourly_elt model ---------------------------------------------------


def _parse_hour(s) -> dt.datetime | None:
    try:
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M")
    except (TypeError, ValueError):
        return None


class WeatherModel:
    """The warehouse the pipeline must converge to, built in plain Python.

    A delivery replaces every day it carries (day-level idempotent
    replace); rows whose timestamp does not parse stay out of the
    warehouse; an empty or key-less delivery changes nothing."""

    def __init__(self) -> None:
        self.days: dict[dt.date, list[tuple[dt.datetime, float, float]]] = {}

    def deliver(self, payload: dict) -> bool:
        """Apply one delivery; returns whether it carried any rows."""
        hourly = payload.get("hourly") or {}
        rows = list(zip(
            hourly.get("time") or [],
            hourly.get("temperature_2m") or [],
            hourly.get("relative_humidity_2m") or [],
        ))
        if not rows:
            return False
        fresh: dict[dt.date, list] = {}
        for t, temp, rh in rows:
            ts = _parse_hour(t)
            if ts is not None:
                fresh.setdefault(ts.date(), []).append((ts, float(temp), float(rh)))
        self.days.update(fresh)
        return True

    def daily_mart(self) -> list[tuple]:
        """``weather_daily`` rows: (date, avg_temp, max_temp, min_temp, avg_rh)."""
        out = []
        for day in sorted(self.days):
            rows = self.days[day]
            temps = [r[1] for r in rows]
            rhs = [r[2] for r in rows]
            out.append((day, math.fsum(temps) / len(temps), max(temps), min(temps),
                        math.fsum(rhs) / len(rhs)))
        return out


def mart_matches(got: Sequence[Sequence], want: Sequence[Sequence], tol: float = 1e-9) -> bool:
    """Row-by-row compare of two ordered daily marts; averages within
    ``tol`` (Spark's double AVG sums in another order than ``fsum``)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0]:
            return False
        for a, b in zip(g[1:], w[1:]):
            if a is None or not math.isclose(a, b, rel_tol=tol, abs_tol=tol):
                return False
    return True
