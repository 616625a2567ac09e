"""Output checks: independent oracles the workloads compare the program against."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd


def duck_lww(feed_globs: list[str]) -> set[tuple]:
    """Final state of a change feed under last-write-wins on (conv_id,
    turn_idx) with total order (ts, lsn), computed by DuckDB straight from the
    feed parquet: {(conv_id, turn_idx, winning lsn, is_tombstone)}."""
    files = ", ".join(f"'{g}'" for g in feed_globs)
    rows = duckdb.sql(
        f"""
        SELECT conv_id, turn_idx, lsn, op = 'D' AS deleted
        FROM (SELECT conv_id, turn_idx, lsn, op,
                     row_number() OVER (PARTITION BY conv_id, turn_idx
                                        ORDER BY ts DESC, lsn DESC) AS rk
              FROM read_parquet([{files}]))
        WHERE rk = 1
        """
    ).fetchall()
    return {(c, int(t), int(lsn), bool(d)) for c, t, lsn, d in rows}


def table_state(table) -> set[tuple]:
    """The same tuple set read from a SnapshotTable, tombstones included."""
    df = table.read(include_meta=True).select("conv_id", "turn_idx", "_lsn", "_deleted")
    return {(c, int(t), int(lsn), bool(d)) for c, t, lsn, d in df.collect()}


def frame_digest(df) -> tuple[int, int]:
    """Order-insensitive digest of a DataFrame computed in Spark: (rows, sum of
    a 31-bit hash of every row). Equal frames give equal digests."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    r = df.select(F.xxhash64(*cols).bitwiseAND(0x7FFFFFFF).alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral form of a result frame: sorted columns and rows, floats
    rounded to 6 places, strings as str, timestamps in microseconds."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(6)
        elif str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].dt.tz_localize(None) if getattr(pdf[c].dt, "tz", None) else pdf[c]
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def pandas_digest(pdf: pd.DataFrame) -> str:
    """Digest of a result frame that ignores row and column order."""
    h = pd.util.hash_pandas_object(normalize(pdf), index=False).to_numpy()
    return hashlib.sha256(h.tobytes() + ",".join(sorted(pdf.columns)).encode()).hexdigest()[:16]


def frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two result frames agree (same columns, rows and values
    within 1e-6 relative), else a one-line reason."""
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None


def duck_views(con, sf_dir: str, tables: list[str]) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
