"""Output checks, run outside the timed window.

Registry queries are compared with their DuckDB oracle twins on the
same generated files, the way ``tests/test_oracle_parity.py`` compares
them: same column names, same row count, exact order-insensitive
values.  The CID pipeline's written CSV is compared with the
generator's ground truth.

``_normalize`` and ``_values_equal`` are kept as a copy of that test's
helpers rather than imported: importing the test module pulls in
pytest and the suite's fixtures module, and a change to the test suite
should not silently change what the benchmark accepts.  Keep the two
copies in step when either changes.
"""

from __future__ import annotations

import csv
import io
import math

import pandas as pd

from gen import TABLES


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if df.empty:
        return df.reset_index(drop=True)
    key = df.astype(str).agg("|".join, axis=1)
    return df.loc[key.sort_values().index].reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col].tolist(), w[col].tolist())):
            if not _values_equal(x, y):
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def check_cid_csv(path: str, truth: dict, metrics: dict) -> str | None:
    """The sink's single CSV file against the generator's ground truth:
    BOM + all-quoted ``;`` dialect, unique ``cid_codigo``, the total,
    the missing-hierarchy count, and ``Estruturada`` winning every code
    present in both sources."""
    with open(path, "rb") as f:
        raw = f.read()
    if not raw.startswith(b"\xef\xbb\xbf"):
        return "no UTF-8 BOM"
    rows = list(csv.DictReader(io.StringIO(raw[3:].decode("utf-8")), delimiter=";"))
    codes = [r["cid_codigo"] for r in rows]
    if len(set(codes)) != len(codes):
        return f"{len(codes) - len(set(codes))} duplicate cid_codigo"
    if len(rows) != truth["total"]:
        return f"total {len(rows)} != {truth['total']}"
    missing = sum(1 for r in rows if not r["bloco_codigo"] or not r["capitulo_codigo"])
    if missing != truth["missing_hierarchy"]:
        return f"missing hierarchy {missing} != {truth['missing_hierarchy']}"
    want = {"total": truth["total"], "missing_hierarchy": truth["missing_hierarchy"]}
    if metrics != want:
        return f"quality counts {metrics} != {want}"
    fonte = {r["cid_codigo"]: r["fonte"] for r in rows}
    lost = [c for c in truth["both_sources"] if fonte.get(c) != "Estruturada"]
    if lost:
        return f"{len(lost)} duplicated codes not won by Estruturada, e.g. {lost[:3]}"
    return None
