"""Oracle parity at exact rounding ties.

q01's money sums are exact DECIMALs with more than two decimals
(``sum_disc_price`` has scale 4, ``sum_charge`` scale 6). Rounding them
to cents AFTER a cast to double leaves the tie to each engine's
double-rounding rule, and Spark and DuckDB disagree there: on
269295880.7750 DuckDB's ``round(double)`` gives .77, Spark's gives .78.
Both engines round a DECIMAL half away from zero, so the declared query
and its oracle round in DECIMAL and cast afterwards. The fixture below
lands both sums on an exact half-cent; the standard fixtures never do.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# (quantity, extendedprice, discount, tax, returnflag, linestatus);
# group (A, F): 300000000.00 * 0.50 + 238591761.55 * 0.50 = 269295880.7750
_LINES = [
    (10.0, 300000000.00, 0.50, 0.00, "A", "F"),
    (20.0, 238591761.55, 0.50, 0.00, "A", "F"),
    (5.0, 1000.00, 0.10, 0.05, "N", "O"),
]


@pytest.fixture(scope="module")
def tie_sf_dir(tmp_path_factory):
    sf = tmp_path_factory.mktemp("tie_sf")
    (sf / "lineitem.parquet").mkdir()
    ship = datetime.datetime(1998, 1, 1)
    cols = list(zip(*_LINES))
    n = len(_LINES)
    table = pa.table(
        {
            "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array(cols[0], pa.float64()),
            "l_extendedprice": pa.array(cols[1], pa.float64()),
            "l_discount": pa.array(cols[2], pa.float64()),
            "l_tax": pa.array(cols[3], pa.float64()),
            "l_returnflag": pa.array(cols[4], pa.string()),
            "l_linestatus": pa.array(cols[5], pa.string()),
            "l_shipdate": pa.array([ship] * n, pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(sf / "lineitem.parquet" / "part-0.parquet"))
    return str(sf)


def test_q01_matches_oracle_on_half_cent_sums(spark, tie_sf_dir):
    from cdc_makanmana_spark.plans.queries import ORACLE_SQL, QUERIES

    name = "q01_pricing_summary"
    sdf = QUERIES[name](spark, tie_sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{tie_sf_dir}/lineitem.parquet/*.parquet')"
        )
        cur = con.execute(ORACLE_SQL[name])
        o_cols, o_rows = [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()

    def canon(cols, rows):
        return sorted(sorted(zip(cols, r)) for r in rows)

    assert canon(s_cols, s_rows) == canon(o_cols, o_rows)
    tie = next(r for r in s_rows if r[0] == "A")
    assert tie[s_cols.index("sum_disc_price")] == 269295880.78
    assert tie[s_cols.index("sum_charge")] == 269295880.78
