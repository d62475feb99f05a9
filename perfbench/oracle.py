"""Output checks: registry results against their DuckDB ``oracle_sql``
twins (row count + column set + order-insensitive row hash), with a
per-query oracle timeout. Runs after the timed loop, never inside it."""

from __future__ import annotations

import hashlib
import os
import threading

import pandas as pd

PASS, FAIL, ROWS, TIMEOUT = "PASS", "FAIL", "ROWS", "TIMEOUT"


def _normalize(df: pd.DataFrame, float_cols: set[str], time_cols: set[str]) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if c in float_cols:
            df[c] = pd.to_numeric(df[c], errors="coerce").astype("float64")
        elif c in time_cols:
            t = pd.to_datetime(df[c])
            if t.dt.tz is not None:
                t = t.dt.tz_localize(None)
            df[c] = t.astype("datetime64[ns]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df


def row_hashes(df: pd.DataFrame, float_cols: set[str], time_cols: set[str]) -> list[int]:
    """Sorted per-row hashes: equal multisets of rows give equal lists."""
    if df.empty:
        return []
    norm = _normalize(df, float_cols, time_cols)
    return sorted(pd.util.hash_pandas_object(norm, index=False).tolist())


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Row count, column-name set, then order-insensitive row hashes.
    A column that is floating point on either side is compared as float64
    on both, so an engine's int-vs-double choice for an integral value
    does not count as a difference; likewise a column that is a timestamp
    on either side is compared as nanoseconds on both (DATE results come
    back as ``datetime.date`` from Spark and as datetime64 from DuckDB)."""
    if len(got) != len(want):
        return False, f"rowcount {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    def either(test):
        return {c for c in got.columns if test(got[c]) or test(want[c])}

    floats = either(pd.api.types.is_float_dtype)
    times = either(pd.api.types.is_datetime64_any_dtype) - floats
    if row_hashes(got, floats, times) != row_hashes(want, floats, times):
        return False, "row hashes differ"
    return True, "ok"


class Oracle:
    """DuckDB over the registry tables, one connection per run. Results
    of SQL that does not change between runs are cached as parquet under
    ``cache_dir``, keyed by the SQL text and the data fingerprint; SQL that
    names per-process artifacts has a new key in every process."""

    def __init__(self, data_dir: str, tables, cache_dir: str, fingerprint: str,
                 timeout_s: float):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.cache_dir = cache_dir
        self.fingerprint = fingerprint
        self.timeout_s = timeout_s
        os.makedirs(cache_dir, exist_ok=True)

    def run(self, sql: str) -> pd.DataFrame | None:
        """The oracle's result, or None when it exceeds the timeout."""
        key = hashlib.sha256((self.fingerprint + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        timer = threading.Timer(self.timeout_s, self.con.interrupt)
        timer.start()
        try:
            df = self.con.execute(sql).df()
        except Exception as e:
            if "interrupt" in str(e).lower():
                return None
            raise
        finally:
            timer.cancel()
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            df.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        except Exception:  # some result types have no parquet form: skip the cache
            if os.path.exists(tmp):
                os.remove(tmp)
        return df

    def close(self) -> None:
        self.con.close()


def check_query(spark_df, sql: str | None, oracle: Oracle) -> tuple[str, str, int]:
    """(status, detail, result rows) for one registry query's DataFrame: PASS/FAIL
    against the oracle; ROWS for queries without one; TIMEOUT when the
    oracle runs out of time, in which case the rows-only check decides
    whether the output counts as correct."""
    got = spark_df.toPandas()
    if sql is not None:
        want = oracle.run(sql)
        if want is not None:
            ok, msg = compare(got, want)
            return (PASS if ok else FAIL), msg, len(got)
    # rows-only: the collected rows and an independent count() must agree
    n = spark_df.count()
    status = ROWS if sql is None else TIMEOUT
    if n != len(got):
        return FAIL, f"{status}: collected {len(got)} rows but count() = {n}", len(got)
    return status, f"{n} rows", len(got)
