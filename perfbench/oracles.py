"""DuckDB oracle results for the query workloads.

Each oracle is evaluated once per run, outside the timed window, and
kept in memory for the rest of the run. Oracles over the engine's
scratch artifacts (q46, q120, q129, q132, q144, q184, q185) read files
their row's build writes, so the first evaluation comes after that row
has run.
"""

from __future__ import annotations

from harness import SF_DIR


class OracleCache:
    def __init__(self):
        self.mem: dict[str, tuple] = {}

    def get(self, name: str, sql: str) -> tuple:
        """(sorted column names, column -> dtype, normalized rows) of the
        row's oracle."""
        if name not in self.mem:
            from tests.oracle_diff import _norm_rows, run_oracle

            odf = run_oracle(sql, SF_DIR)
            cols = list(odf.columns)
            self.mem[name] = (
                sorted(cols),
                {c: str(odf[c].dtype) for c in cols},
                _norm_rows(cols, odf.itertuples(index=False, name=None)),
            )
        return self.mem[name]


def diff(pdf, want: tuple) -> str:
    """Empty when the collected frame matches the oracle: the same column
    names, dtypes, row count and order-insensitive normalized values
    (the checks and normalization of tests/oracle_diff.py's
    assert_matches_oracle)."""
    from tests.oracle_diff import _norm_rows

    cols, dtypes, rows = want
    if sorted(pdf.columns) != cols:
        return f"columns {sorted(pdf.columns)} != oracle {cols}"
    bad_types = {
        c: (str(pdf[c].dtype), dtypes[c]) for c in cols if str(pdf[c].dtype) != dtypes[c]
    }
    if bad_types:
        return f"dtype mismatches {bad_types}"
    if len(pdf) != len(rows):
        return f"rows {len(pdf)} != oracle {len(rows)}"
    got = _norm_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))
    bad = sum(a != b for a, b in zip(got, rows))
    return f"{bad}/{len(rows)} rows differ" if bad else ""
