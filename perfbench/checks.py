"""Output checks: order-insensitive digests of triples, and each query
leaf against the DuckDB result of its frozen ``oracle_sql``.

An oracle result depends only on the oracle text and the input files, so
it is cached under ``--cache`` keyed by a hash of both.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd

TRIPLE_COLS = ("subj", "pred", "obj", "weight", "confidence")


def digest(rows) -> str:
    """sha256 over the sorted rows: equal iff the row multisets are."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _file_hash(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def oracle_frame(name: str, sf_dir: str, cache_dir: str) -> pd.DataFrame:
    from biomedical_knowledge_graph_spark.queries import REGISTRY

    sql = REGISTRY[name].oracle
    tables = ("documents", "part")
    key = hashlib.sha256(
        "\n".join(
            [sql] + [_file_hash(f"{sf_dir}/{t}.parquet") for t in tables]
        ).encode()
    ).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        con.sql(f"SET threads TO {os.cpu_count()}")
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        pdf = con.sql(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    pdf.to_pickle(tmp)
    os.replace(tmp, path)
    return pdf


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """"OK", or the first difference: columns, dtype kinds, row count or
    values (floats to 1e-9 relative after rounding to 6 places)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    for c in got.columns:
        if got[c].dtype.kind != want[c].dtype.kind:
            return f"dtype of {c}: {got[c].dtype} != {want[c].dtype}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        for x, y in zip(a[c].values, b[c].values):
            if a[c].dtype.kind == "f":
                same = (math.isnan(x) and math.isnan(y)) or abs(x - y) <= 1e-9 * max(
                    1.0, abs(y)
                )
            else:
                same = (pd.isna(x) and pd.isna(y)) or x == y
            if not same:
                return f"value in {c}: {x!r} != {y!r}"
    return "OK"


def oracle_verdict(name: str, got: pd.DataFrame, sf_dir: str, cache_dir: str) -> str:
    return compare(got, oracle_frame(name, sf_dir, cache_dir))
