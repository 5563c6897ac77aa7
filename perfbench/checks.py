"""Output checks, run outside the timed interval.

``OracleCheck`` compares a query's collected rows with its DuckDB
oracle over the same parquet files; ``check_etl_output`` compares the
Sparkify pipeline's parquet output with what the generator wrote.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import re

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "asDict"):  # a nested pyspark Row
        return _norm(v.asDict(recursive=True))
    return v


def _sort_key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when the canonical results match, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if not _same(g, w):
            return f"row {i}: {g} != {w}"
    return None


class OracleCheck:
    """DuckDB views over the generated tables; oracle results are
    computed once per query and reused for every pass."""

    def __init__(self, data_dir: str, tables: list[str]):
        self._con = duckdb.connect()
        self._con.execute("SET TimeZone='UTC'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._want: dict[str, tuple] = {}

    def expected(self, name: str, sql: str):
        if name not in self._want:
            cur = self._con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._want[name] = canonical(cols, cur.fetchall())
        return self._want[name]

    def close(self) -> None:
        self._con.close()


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def _partition_values(root: str, files: list[str], keys: tuple[str, ...]) -> set[tuple]:
    """Hive partition values of each file; raises on a wrong layout."""
    pat = re.compile("/".join(f"{k}=([^/]+)" for k in keys) + r"/[^/]+\.parquet$")
    out = set()
    for f in files:
        m = pat.fullmatch(os.path.relpath(f, root))
        if not m:
            raise ValueError(f"{f} is not under {'/'.join(k + '=' for k in keys)}")
        out.add(m.groups())
    return out


def etl_output_stats(out_dir: str) -> dict:
    """Files, bytes and rows per table of one pipeline run's output."""
    stats = {}
    for table in ("songs", "artists", "users", "time", "songplays"):
        files = _parquet_files(os.path.join(out_dir, table))
        stats[table] = {
            "files": files,
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }
    return stats


def check_etl_output(out_dir: str, expect: dict) -> str | None:
    """None when the output has the generator's row counts and the
    year=/artist_id= and year=/month= layouts, else a reason."""
    stats = etl_output_stats(out_dir)
    for table, st in stats.items():
        if st["rows"] != expect[table]:
            return f"{table}: {st['rows']} rows != {expect[table]}"
    song_parts = _partition_values(os.path.join(out_dir, "songs"), stats["songs"]["files"], ("year", "artist_id"))
    want = {(str(y), a) for y, a in expect["song_parts"]}
    if song_parts != want:
        return f"songs: {len(song_parts)} year/artist_id partitions != {len(want)}"
    want = {(str(y), str(m)) for y, m in expect["time_parts"]}
    for table in ("time", "songplays"):
        parts = _partition_values(os.path.join(out_dir, table), stats[table]["files"], ("year", "month"))
        if parts != want:
            return f"{table}: year/month partitions {sorted(parts)} != {sorted(want)}"
    return None
