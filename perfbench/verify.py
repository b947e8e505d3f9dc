"""Correctness checks, run outside the timed windows.

Batch queries are compared with their ``REGISTRY[name].oracle`` DuckDB SQL
over the same generated files, by the repository's exact rule (as in
``tools/oracle_check.py``): same column names, and the same multiset of
rows once columns are sorted by name and cells normalised — floats must
match bit for bit. Stream pipelines are compared with their batch twins
over the same micro-batch files.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb


def _cell(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def same_rows(got, want) -> bool:
    """``got`` and ``want`` are (columns, rows); exact multiset equality."""
    return _normalize(*got) == _normalize(*want)


def oracle_rows(data_dir: str, queries) -> dict:
    """(columns, rows) of each query's DuckDB oracle over ``data_dir``."""
    from algorithmproject_spark_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name in queries:
            res = con.execute(REGISTRY[name].oracle)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


def stream_expected(spark, paths: list[str], schema) -> dict:
    """Each pipeline's final output, computed by its batch twin over the
    same files."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming import windowed_value_agg
    from algorithmproject_spark_spark.streaming.stateful import user_profile_batch

    batch = spark.read.schema(schema).parquet(*paths)
    max_ts = batch.agg(F.max("ts")).first()[0]
    # append mode emits a 1-hour window once the 2-hour watermark
    # (latest event time minus 2 h) reaches the window's end
    closed = windowed_value_agg(batch).where(
        F.col("window_start") + F.expr("INTERVAL 3 HOURS") <= F.lit(max_ts)
    )
    profile = sorted(tuple(r) for r in user_profile_batch(batch).collect())
    return {
        "window_agg": _rows(closed),
        "user_profile": profile,
        "dedup": _rows(batch.dropDuplicates(["event_id"])),
    }


def stream_output_ok(spark, name: str, handle: str, expected: dict) -> bool:
    """Compare one drained pipeline's sink with its batch twin."""
    if name == "window_agg":
        return same_rows(_rows(spark.read.parquet(handle)), expected[name])
    out = spark.sql(f"SELECT * FROM {handle}")
    if name == "user_profile":
        # update mode: the sink holds every update; the last one per key wins
        last = {}
        for r in out.collect():
            last[r["user_id"]] = tuple(r)
        return sorted(last.values()) == expected[name]
    return same_rows(_rows(out), expected[name])
