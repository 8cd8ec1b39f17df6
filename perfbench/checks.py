"""ETL output checks: both reports against a DuckDB recompute over
exactly the rows a bookmark admits, and the committed high-water mark.

(The analytics panel is judged by the test suite's own oracle harness,
``tests.oracle.assert_parity``.)
"""

from __future__ import annotations

import os

#: Per-total tolerance for the ETL reports. Spark and DuckDB add the same
#: doubles in different orders, so ``round(sum, 2)`` can land a cent apart
#: when the exact sum sits on a half cent.
CENT = 0.01
#: Slack for the binary representation of a one-cent difference.
_CENT_EPS = 1e-6


def report_diff(con, expected_sql: str, actual_sql: str, keys, tol: float = CENT) -> str | None:
    """ETL report equality, evaluated in DuckDB: both relations have the
    ``keys`` columns and a ``total``; they must hold the same groups, once
    each, with every total within ``tol``. ``None`` if equal, else why not.
    """
    using = ", ".join(keys)
    n_e, n_a, missing, extra, off, worst = con.execute(f"""
        WITH e AS ({expected_sql}), a AS ({actual_sql}),
             j AS (SELECT e.total AS et, a.total AS at FROM e FULL OUTER JOIN a USING ({using}))
        SELECT (SELECT count(*) FROM e), (SELECT count(*) FROM a),
               count(*) FILTER (WHERE at IS NULL), count(*) FILTER (WHERE et IS NULL),
               count(*) FILTER (WHERE abs(at - et) > {tol + _CENT_EPS}), max(abs(at - et))
        FROM j""").fetchone()
    if n_e == n_a and missing == extra == off == 0:
        return None
    return (f"{n_a} rows vs {n_e} expected: {missing} groups missing, {extra} unexpected, "
            f"{off} totals off by more than {tol} (worst {worst})")


# --- DuckDB side ----------------------------------------------------------

#: The two ETL reports: group columns and the DuckDB expressions for them.
ETL_REPORTS = {
    "sales_by_customer": (
        ("c_custkey", "c_name", "order_date"),
        "c_custkey, c_name, CAST(o_orderdate AS DATE) AS order_date",
    ),
    "sales_by_supplier": (
        ("s_suppkey", "s_name", "ship_date"),
        "s_suppkey, s_name, CAST(l_shipdate AS DATE) AS ship_date",
    ),
}


def _landed(sf_dir: str, table: str) -> str:
    return f"read_parquet('{os.path.join(sf_dir, table)}.parquet')"


def etl_max_key(con, sf_dir: str, hwm: int):
    """The highest fact key a run over bookmark ``hwm`` admits."""
    return con.execute(
        f"SELECT max(l_orderkey) FROM {_landed(sf_dir, 'lineitem')} WHERE l_orderkey > {int(hwm)}"
    ).fetchone()[0]


def etl_expected(con, sf_dir: str, hwm: int) -> dict[str, str]:
    """Materialise both reports, recomputed over exactly the rows bookmark
    ``hwm`` admits, as temporary tables; returns report -> table name."""
    tables = {}
    for name, (_, groups) in ETL_REPORTS.items():
        table = f"expected_{name}_{int(hwm)}"
        con.execute(
            f"CREATE TEMP TABLE {table} AS"
            f" SELECT {groups}, round(sum(l_extendedprice), 2) AS total"
            f" FROM {_landed(sf_dir, 'lineitem')} l"
            f" JOIN {_landed(sf_dir, 'orders')} o ON l.l_orderkey = o.o_orderkey"
            f" JOIN {_landed(sf_dir, 'customer')} c ON o.o_custkey = c.c_custkey"
            f" JOIN {_landed(sf_dir, 'supplier')} s ON l.l_suppkey = s.s_suppkey"
            f" WHERE l.l_orderkey > {int(hwm)} GROUP BY ALL"
        )
        tables[name] = table
    return tables


def etl_report_diff(con, expected_table: str, path: str, name: str) -> str | None:
    """Compare the report written at ``path`` with its expected table."""
    keys, _ = ETL_REPORTS[name]
    actual = f"SELECT {', '.join(keys)}, total FROM read_parquet('{path}/*.parquet')"
    return report_diff(con, f"SELECT * FROM {expected_table}", actual, keys)
