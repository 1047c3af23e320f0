"""Oracle parity of the entity-resolution tie rules (q20).

``best_matches`` ranks every candidate of a merchant with one ``min``
over a struct key: exact tier before fuzzy, then postal match, then
similarity descending, then establishment id ascending. The generated
fixtures rarely put two candidates on one merchant, so the hand-built
``part`` rows below do, one case per tie rule, and run them through
``q20_entity_resolution`` and its ``ORACLE_SQL`` in DuckDB.

q20 derives both sides from ``part``: every 5th part is a merchant
named ``p_name + lower(p_type) + ' trading company'`` whose postal is
set only when ``p_partkey % 8 == 0``; every 2nd part is an
establishment, an exact copy of that name when ``p_partkey % 4 == 0``
and otherwise the same name with an ``x`` appended to the type token.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# (p_partkey, p_name, p_type)
_PARTS = [
    # exact hit (E28) against a fuzzy candidate of equal score and a
    # lower id (E26): the exact tier wins; M25's postal is null
    (25, "amber basil cedar", "STANDARD DELTA"),
    (26, "amber basil cedar", "STANDARD DELTA"),
    (28, "amber basil cedar", "STANDARD DELTA"),
    # two exact hits: E120 shares M120's postal, E24 has the lower id
    (24, "birch coral dune", "ECONOMY FLINT"),
    (120, "birch coral dune", "ECONOMY FLINT"),
    # fuzzy candidates tied on similarity: the lower id wins
    (35, "ember fjord grove", "MEDIUM HAZEL"),
    (38, "ember fjord grove", "MEDIUM HAZEL"),
    (42, "ember fjord grove", "MEDIUM HAZEL"),
    # pairs sharing several block keys (tokens and 4-char prefixes)
    (45, "ivory jade kelp", "SMALL LIME"),
    (50, "ivory jade kelp", "SMALL LIME"),
    # names that clean to generic words only: no block key, exact tier
    (55, "#01-23 pte", "LTD"),
    (56, "#99 (private)", "BHD"),
    # abbreviation (bros/brothers) combined with the type-token typo
    (65, "lotus mango bros nutmeg", "LARGE OLIVE"),
    (66, "lotus mango brothers nutmeg", "LARGE OLIVE"),
    # no candidate at all
    (75, "quartz river sage", "PROMO TIN"),
]

_EXPECTED = {
    25: (28, "EXACT_NAME"),
    35: (38, "SIMILAR_NAME"),
    45: (50, "SIMILAR_NAME"),
    50: (50, "SIMILAR_NAME"),
    55: (56, "EXACT_NAME"),
    65: (66, "SIMILAR_NAME"),
    75: (None, None),
    120: (120, "EXACT_POSTAL"),
}


@pytest.fixture(scope="module")
def er_tie_sf_dir(tmp_path_factory):
    sf = tmp_path_factory.mktemp("er_tie_sf")
    (sf / "part.parquet").mkdir()
    keys, names, types = zip(*_PARTS)
    table = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_type": pa.array(types, pa.string()),
        }
    )
    pq.write_table(table, str(sf / "part.parquet" / "part-0.parquet"))
    return str(sf)


def test_q20_tie_rules_match_oracle(spark, er_tie_sf_dir):
    from cdc_makanmana_spark.plans.queries import ORACLE_SQL, QUERIES

    name = "q20_entity_resolution"
    sdf = QUERIES[name](spark, er_tie_sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW part AS SELECT * FROM "
            f"read_parquet('{er_tie_sf_dir}/part.parquet/*.parquet')"
        )
        cur = con.execute(ORACLE_SQL[name])
        o_cols, o_rows = [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()

    def canon(cols, rows):
        return sorted((sorted(zip(cols, r)) for r in rows), key=repr)

    assert canon(s_cols, s_rows) == canon(o_cols, o_rows)
    got = {
        r[s_cols.index("merchant_id")]: (
            r[s_cols.index("establishment_id")],
            r[s_cols.index("match_source")],
        )
        for r in s_rows
    }
    assert got == _EXPECTED


def test_fuzzy_null_dim_postal_ranks_after_a_postal_mismatch(spark):
    """q20's dim always has a postal. When it is missing, the fuzzy
    tier's ``postal_match`` is NULL, and ``ORDER BY postal_match DESC``
    puts NULL after false in Spark and DuckDB alike: the candidate with
    a mismatching postal wins over a lower id without one."""
    from cdc_makanmana_spark.operators.similarity import similarity_join

    left = spark.createDataFrame(
        [("m1", "alpha bravo charlie delta", "111111")], "id string, name string, postal string"
    )
    right = spark.createDataFrame(
        [
            ("e1", "alpha bravo charlie deltax", None),
            ("e2", "alpha bravo charlie deltax", "222222"),
        ],
        "eid string, name string, postal string",
    )
    (row,) = similarity_join(
        left, right, "name", "name", "id", "eid", "postal", "postal"
    ).collect()
    assert (row.eid_r, row.match_source, row.similarity) == ("e2", "SIMILAR_NAME", 1.0)
