"""Correctness gate: Spark results against the engine's DuckDB oracle SQL.

Rows are compared in the canonical form ``tools/check_oracle.py`` uses
for the engine's own differential check (type-tagged values, floats to 9
significant digits, order-insensitive).
"""

from __future__ import annotations

Result = tuple[list[str], list[str]]  # (sorted column names, canonical rows)


def canonical(df) -> Result:
    """Collect ``df`` into its canonical form."""
    from tools.check_oracle import canon_rows

    cols = df.columns
    return sorted(cols), canon_rows(cols, [tuple(r) for r in df.collect()])


def expected(in_dir: str, names: list[str]) -> dict[str, Result]:
    """Each query's oracle result over the parquet tables in ``in_dir``."""
    from database_per_keyword_analysis_spark import catalog
    from tools.check_oracle import canon_rows, duck_connect

    sql = catalog.oracle_sql()
    con = duck_connect(in_dir)
    try:
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def diff(got: Result, want: Result) -> str | None:
    """The first difference between two results, or None when they agree."""
    if got[0] != want[0]:
        return f"columns differ: spark={got[0]} oracle={want[0]}"
    if len(got[1]) != len(want[1]):
        return f"row count differs: spark={len(got[1])} oracle={len(want[1])}"
    for a, b in zip(got[1], want[1]):
        if a != b:
            return f"values differ, first: spark={a!r} oracle={b!r}"
    return None
