"""Output checks against DuckDB, run outside every timed region.

Registry ops are compared with their ``oracle_sql()`` entry the way
``tests/test_oracle_parity.py`` does it: both sides go through pandas, cells
must be hashable, missing values collapse to None, floats compare at six
decimals, and rows compare as sorted multisets over name-sorted columns.

Pipeline targets are compared inside DuckDB as multisets (equal row counts
and equal sums of row hashes) after the same canonicalization: columns in name order, floats
printed at six decimals with NaN as NULL and -0.0 as 0.0, everything else
cast to text.
"""

from __future__ import annotations

import os
import re

import duckdb

from gen import TABLES


def connect(input_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# -- registry: the pandas canonicalization of test_oracle_parity ------------

def _norm(v):
    hash(v)  # unhashable cells (lists, dicts) fail, as pandas factorizing would
    if v is None or v != v:
        return None
    if isinstance(v, float):
        return f"{v + 0.0:.6f}"
    return v


def _rows(pdf):
    cols = [pdf[c].tolist() for c in pdf.columns]
    return list(zip(*cols)) if cols else [()] * len(pdf)


def canon(pdf) -> tuple[tuple[str, ...], list[tuple]]:
    names = list(pdf.columns)
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(
        (tuple(_norm(r[i]) for i in order) for r in _rows(pdf)),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    return tuple(sorted(names)), rows


def compare_frames(spark_pdf, oracle_pdf) -> str | None:
    """None when equal, else a one-line reason."""
    try:
        sc, sr = canon(spark_pdf)
        oc, orows = canon(oracle_pdf)
    except TypeError as exc:
        return f"uncomparable cell: {exc}"
    if sc != oc:
        return f"columns {list(sc)} vs {list(oc)}"
    if len(sr) != len(orows):
        return f"rows {len(sr)} vs {len(orows)}"
    if sr != orows:
        diff = next((a, b) for a, b in zip(sr, orows) if a != b)
        return f"first differing row {diff[0]!r} vs {diff[1]!r}"
    return None


# -- pipeline targets: multiset compare inside DuckDB -----------------------

_ORACLE_REF = re.compile(r"oracle:(\w+)")


def expand(sql: str, oracles: dict[str, str]) -> str:
    return _ORACLE_REF.sub(lambda m: oracles[m.group(1)].strip().rstrip(";"), sql)


def _canon_select(con, rel: str) -> tuple[list[str], str]:
    cols = con.sql(f"DESCRIBE {rel}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0]):
        q = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT", "REAL") or typ.startswith("DECIMAL"):
            expr = (f"CASE WHEN isnan({q}::DOUBLE) THEN NULL "
                    f"ELSE printf('%.6f', {q}::DOUBLE + 0.0) END")
        else:
            expr = f"{q}::VARCHAR"
        parts.append(f"{expr} AS {q}")
    return [c[0] for c in cols], f"SELECT {', '.join(parts)} FROM {rel}"


def _fingerprint(con, sel: str, cols: list[str]) -> tuple[int, int]:
    """(rows, sum of row hashes): equal for equal multisets, whatever the
    row order."""
    names = ", ".join(f'"{c}"' for c in sorted(cols))
    return con.sql(f"SELECT count(*), coalesce(sum(hash({names})::HUGEINT), 0) "
                   f"FROM ({sel})").fetchone()


def compare_sql(con, actual: str, expected: str) -> str | None:
    """None when the two queries give equal multisets, else a reason.
    Each side is evaluated once, into a temp table, and fingerprinted;
    only a mismatch pays for an ``EXCEPT ALL`` to find an example row."""
    con.sql(f"CREATE OR REPLACE TEMP TABLE __a AS {actual}")
    con.sql(f"CREATE OR REPLACE TEMP TABLE __e AS {expected}")
    acols, asel = _canon_select(con, "__a")
    ecols, esel = _canon_select(con, "__e")
    if sorted(acols) != sorted(ecols):
        return f"columns {sorted(acols)} vs {sorted(ecols)}"
    (na, ha), (ne, he) = _fingerprint(con, asel, acols), _fingerprint(con, esel, ecols)
    if na != ne:
        return f"rows {na} vs {ne}"
    if ha == he:
        return None
    row = con.sql(f"{asel} EXCEPT ALL {esel} LIMIT 1").fetchone()
    return f"rows differ, e.g. {row!r}"


def parquet_rel(path: str) -> str:
    """A DuckDB relation over a parquet file or a Spark output directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def check_target(input_dir: str, root: str, target: str, chk, oracles) -> str | None:
    """Run one workload ``Check`` of ``target`` under pipeline ``root``."""
    con = duckdb.connect()
    try:
        for view, src in chk.views.items():
            path = (os.path.join(input_dir, src.split(":", 1)[1] + ".parquet")
                    if src.startswith("input:") else os.path.join(root, f"{src}.parquet"))
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM {parquet_rel(path)}")
        con.sql(f"CREATE VIEW t AS SELECT * FROM "
                f"{parquet_rel(os.path.join(root, f'{target}.parquet'))}")
        return compare_sql(con, chk.actual, expand(chk.expected, oracles))
    except duckdb.Error as exc:
        return f"check failed to run: {exc}"
    finally:
        con.close()
