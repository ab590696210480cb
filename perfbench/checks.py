"""Output checks. They run after the timed region and fail the run when an
output does not hold.

* warehouse build (the dashboard's set-up `ingest`) — table counts, and
  per-day OHLCV checksums of the written `daystocks` against the truth the
  generator computed (read with DuckDB);
* dashboard — every distinct request's rows against the same request run
  by DuckDB over the warehouse parquet;
* corpus — non-empty, and equal to the catalog's DuckDB oracle for
  ``q_datapipe_e2e_v2`` through ``plans.oracle_check.compare``.

Each check returns a list of problems; an empty list means it holds.
"""

from __future__ import annotations

import math
import os

import duckdb

# Checksums are sums of exact float32 values in another order: double
# rounding only. Window statistics (Bollinger std) accumulate differently
# in the two engines.
CHECKSUM_RTOL = 1e-9
VALUE_RTOL = 1e-6

WAREHOUSE_TABLES = ("markets", "companies", "stocks", "daystocks",
                    "stocks_compressed")


def warehouse_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the engine's parquet tables (hive-partitioned
    directories read with their `day` partition column)."""
    con = duckdb.connect()
    for t in WAREHOUSE_TABLES:
        path = os.path.join(tables_dir, t)
        if os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)")
    return con


def _close(a: float, b: float, rtol: float) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-9)


def check_ingest(tables_dir: str, truth: dict, reported: dict) -> list[str]:
    problems = []
    con = warehouse_connection(tables_dir)
    try:
        for t, want in truth["counts"].items():
            got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            if got != want:
                problems.append(f"{t}: {got} rows written, truth {want}")
            if reported.get(t) != want:
                problems.append(f"{t}: ingest reported {reported.get(t)}, "
                                f"truth {want}")
        rows = con.execute("""
            SELECT CAST(date AS VARCHAR), count(*),
                   sum(CAST(open AS DOUBLE)), sum(CAST(close AS DOUBLE)),
                   sum(CAST(high AS DOUBLE)), sum(CAST(low AS DOUBLE)),
                   sum(volume), sum(mean)
            FROM daystocks GROUP BY 1 ORDER BY 1""").fetchall()
    finally:
        con.close()
    cols = ("n_bars", "open", "close", "high", "low", "volume", "mean")
    got = {r[0]: dict(zip(cols, r[1:])) for r in rows}
    if set(got) != set(truth["per_day"]):
        problems.append(f"daystocks days differ: {sorted(set(got) ^ set(truth['per_day']))[:5]}")
    for day in sorted(set(got) & set(truth["per_day"])):
        for c in cols:
            a, b = got[day][c], truth["per_day"][day][c]
            if not _close(float(a), float(b), CHECKSUM_RTOL):
                problems.append(f"daystocks {day} {c}: {a!r}, truth {b!r}")
                break
    return problems


def _cell(v):
    """Normalize one result cell: numbers to float, NULL/NaN to None,
    everything else to its string form (dates print as YYYY-MM-DD)."""
    if v is None:
        return None
    if isinstance(v, str):
        if v in ("None", "nan", "NaN"):
            return None
        try:
            return float(v)
        except ValueError:
            return v
    if isinstance(v, (int, float)):
        return None if isinstance(v, float) and math.isnan(v) else float(v)
    return str(v)


def same_rows(got: list[list], want: list[tuple]) -> str | None:
    """None when the row lists agree cell by cell (numbers within
    VALUE_RTOL), else a description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns, DuckDB {len(w)}"
        for a, b in zip(map(_cell, g), map(_cell, w)):
            if isinstance(a, float) and isinstance(b, float):
                if not _close(a, b, VALUE_RTOL):
                    return f"row {i}: {g} vs DuckDB {list(w)}"
            elif a != b:
                return f"row {i}: {g} vs DuckDB {list(w)}"
    return None


BARS_COLUMNS = ("date", "open", "close", "high", "low", "volume", "mean",
                "std", "boll_mean", "boll_std", "boll_upper", "boll_lower")


def bars_sql(cid: int, start: str, window: int) -> str:
    """DuckDB twin of the chart request: filter, then a rolling window
    that is NULL until `window` rows exist."""
    frame = f"OVER (ORDER BY date ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)"
    full = f"count(close) {frame} >= {window}"
    mean, std = f"avg(close) {frame}", f"stddev_samp(close) {frame}"
    return f"""
        SELECT CAST(date AS VARCHAR), open, close, high, low, volume, mean, std,
               CASE WHEN {full} THEN {mean} END,
               CASE WHEN {full} THEN {std} END,
               CASE WHEN {full} THEN {mean} + 2.0 * {std} END,
               CASE WHEN {full} THEN {mean} - 2.0 * {std} END
        FROM daystocks WHERE cid = {cid} AND date >= DATE '{start}'
        ORDER BY date"""


def check_dashboard(tables_dir: str, results: dict) -> list[str]:
    """`results` maps each distinct request to (request, engine reply)."""
    problems = []
    con = warehouse_connection(tables_dir)
    try:
        for key, (req, reply) in sorted(results.items()):
            if req["cmd"] == "bars":
                cols = reply["columns"]
                got = [[r[cols.index(c)] for c in BARS_COLUMNS]
                       for r in reply["rows"]]
                want = con.execute(bars_sql(req["cid"], req["start"],
                                            req["bollinger"])).fetchall()
                if reply["n_rows"] != len(reply["rows"]):
                    problems.append(f"{key}: reply truncated")
            else:
                got = reply["rows"]
                want = con.execute(req["query"]).fetchall()
            diff = same_rows(got, want)
            if diff:
                problems.append(f"{key}: {diff}")
            elif not want:
                problems.append(f"{key}: empty result")
    finally:
        con.close()
    return problems


def check_corpus(spark, docs_dir: str, out_dir: str, n_chunks: int) -> list[str]:
    from real_big_data_project_spark.plans.catalog import QUERIES, queries_map
    from real_big_data_project_spark.plans.oracle_check import (
        compare, duckdb_oracle,
    )

    queries_map()  # loads the catalog
    oracle = duckdb_oracle(QUERIES["q_datapipe_e2e_v2"].oracle, docs_dir)
    res = compare("q_datapipe_e2e_v2", spark.read.parquet(out_dir), oracle)
    problems = []
    if n_chunks <= 0 or len(oracle) == 0:
        problems.append(f"empty corpus build ({n_chunks} chunks)")
    if n_chunks != len(oracle):
        problems.append(f"corpus-build reported {n_chunks} chunks, "
                        f"oracle {len(oracle)}")
    if not res.ok:
        problems.append(f"corpus output differs from the oracle: {res.detail}")
    return problems
