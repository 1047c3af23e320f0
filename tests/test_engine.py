"""Engine facade tests: the reference app's end-to-end query lifecycle
(EP1 search→filter→sort→page, EP3 enrichment, halal resolution) wired
through MakanmanaEngine on a merchant-shaped fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_makanmana_spark.engine import MakanmanaEngine

MERCHANT_SCHEMA = (
    "id string, name string, address string, postalCode string, type string, "
    "LAT double, LON double, businessCategory string, "
    "filters struct<secondary: struct<budgetmeal: boolean>>"
)

ROWS = [
    ("m1", "Ahmad Biryani House", "1 Changi Rd", "419701", "HAWKER_HEARTLAND_MERCHANT",
     1.3200, 103.9000, "food", (( True,),)),
    ("m2", "Char Siu Pork Noodle", "2 Changi Rd", "419702", "HAWKER_HEARTLAND_MERCHANT",
     1.3210, 103.9010, "food", ((False,),)),
    ("m3", "Sushi Master Tanjong Pagar", "3 Orchard Rd", "238801", "HAWKER_HEARTLAND_MERCHANT",
     1.3040, 103.8320, "food", ((False,),)),
    ("m4", "FairPrice Xtra", "4 Orchard Rd", "238802", "SUPERMARKET",
     1.3050, 103.8330, "retail", ((False,),)),
    ("m5", "Warung Pak Ali Nasi Padang", "5 Bedok Ave", "460501", "HAWKER_HEARTLAND_MERCHANT",
     1.3250, 103.9300, "food", (( True,),)),
]


@pytest.fixture(scope="module")
def eng(spark):
    return MakanmanaEngine(spark.createDataFrame(ROWS, MERCHANT_SCHEMA)).enrich()


def test_enrich_derives_cuisine_and_halal(eng):
    rows = {r.id: r for r in eng.df.collect()}
    assert "Indian" in rows["m1"].cuisine           # biryani keyword
    assert rows["m4"].cuisine == ["Local"]           # default class
    assert rows["m1"].isHalal is True                # positive keyword
    assert rows["m2"].isHalal is False               # pork veto beats nothing-positive
    assert rows["m2"].halalSource == "NOT_CHECKED"
    assert rows["m1"].halalSource == "KEYWORD_MATCH"


def test_search_text_branch(eng):
    ids = {r.id for r in eng.search("sushi").df.collect()}
    assert ids == {"m3"}
    # array-column (cuisine) hits too
    ids = {r.id for r in eng.search("indian").df.collect()}
    assert "m1" in ids


def test_search_blank_passthrough(eng):
    assert eng.search("   ").count() == 5


def test_search_postal_branch_routes_to_radius(eng, spark):
    postal_dim = spark.createDataFrame(
        [("419701", 1.3200, 103.9000), ("238801", 1.3040, 103.8320)],
        "postal string, lat double, lon double",
    )
    out = eng.search("419701", postal_dim=postal_dim, radius_km=5.0).df
    rows = out.collect()
    ids = [r.id for r in rows]
    # east-side merchants within 5 km, nearest first; Orchard ones excluded
    assert set(ids) == {"m1", "m2", "m5"}
    assert ids[0] == "m1" and rows[0].distance_km < 0.2


def test_search_postal_prefix_fallback(eng, spark):
    """Unknown postal falls back to its 3-digit prefix row (J5,
    locationUtils.ts:56-74)."""
    postal_dim = spark.createDataFrame(
        [("419999", 1.3205, 103.9005)], "postal string, lat double, lon double"
    )
    out = eng.search("419777", postal_dim=postal_dim, radius_km=5.0).df
    assert {r.id for r in out.collect()} == {"m1", "m2", "m5"}


def test_postal_search_builds_with_one_geocode_and_keeps_pushed_bounds(eng, spark, tmp_path, jobs_run):
    """Building a postal search over parquet runs only the geocode
    aggregate (at most 2 jobs), and the radius bounding box still
    reaches the snapshot scan as pushed LAT/LON range filters."""
    eng.df.write.parquet(str(tmp_path / "snap"))
    spark.createDataFrame(
        [("419701", 1.3200, 103.9000), ("238801", 1.3040, 103.8320)],
        "postal string, lat double, lon double",
    ).write.parquet(str(tmp_path / "postal"))
    snap = MakanmanaEngine(spark.read.parquet(str(tmp_path / "snap")))
    postal_dim = spark.read.parquet(str(tmp_path / "postal"))

    built, n_jobs = jobs_run(lambda: snap.search("419701", postal_dim=postal_dim, radius_km=5.0))
    assert n_jobs <= 2
    plan = built.df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l and "LAT" in l)
    for bound in ("GreaterThanOrEqual(LAT,", "LessThanOrEqual(LAT,",
                  "GreaterThanOrEqual(LON,", "LessThanOrEqual(LON,"):
        assert bound in pushed
    assert {r.id for r in built.df.collect()} == {"m1", "m2", "m5"}


def test_prefix_fallback_lookup_equals_join(spark):
    """The one-key geocode returns exactly prefix_fallback_join's
    (lat, lon) for every tier: duplicate keys, a null lat on the exact
    row, a prefix-only hit and a full miss that takes the default."""
    from cdc_makanmana_spark.operators.enrich import (
        prefix_fallback_join,
        prefix_fallback_lookup,
    )

    dim = spark.createDataFrame(
        [
            ("419701", 1.3100, 103.9100),   # duplicate exact key ...
            ("419701", 1.3000, 103.9000),   # ... min representative wins
            ("419702", None, 103.9500),     # exact row, null lat
            ("238001", None, 103.8000),     # null lat that is also the prefix min
            ("238555", 1.2800, 103.8500),
            ("560001", 1.3600, None),
        ],
        "postal string, lat double, lon double",
    )
    defaults = {"lat": 1.3521, "lon": 103.8198}
    keys = ["419701", "419702", "419999", "238001", "238777", "560001", "999999"]
    joined = {
        r.postal: (r.lat, r.lon)
        for r in prefix_fallback_join(
            spark.createDataFrame([(k,) for k in keys], "postal string"),
            dim, "postal", "postal", ["lat", "lon"], defaults=defaults,
        ).collect()
    }
    for k in keys:
        row = prefix_fallback_lookup(dim, "postal", k, ["lat", "lon"], defaults=defaults)
        assert (row["lat"], row["lon"]) == joined[k], k
    assert joined["419999"] == (1.3000, 103.9000)   # prefix-only hit
    assert joined["419702"] == (1.3000, 103.9500)   # lat from the prefix tier
    assert joined["999999"] == (1.3521, 103.8198)   # full miss: default


def test_filter_category_budget_halal(eng, spark):
    assert {r.id for r in eng.filter(category="SUPERMARKET").df.collect()} == {"m4"}
    assert eng.filter(category="all").count() == 5
    assert {r.id for r in eng.filter(budget_only=True).df.collect()} == {"m1", "m5"}
    assert {r.id for r in eng.filter(halal_only=True).df.collect()} == {"m1", "m5"}


def test_resolve_halal_upgrades_provenance(eng, spark):
    # One-character typo vs m3's name: rejected by the exact tier,
    # accepted by the fuzzy tier (4/4 tokens match under the Levenshtein
    # ratio; similarity 1.0 >= 0.95, >= 3 tokens, >= 2 specific) —
    # exercising the reference's accept gate (halalService.ts:136-149).
    est = spark.createDataFrame(
        [("e1", "Sushi Mastar Tanjong Pagar Pte Ltd", "238801")],
        "establishment_id string, name string, postal string",
    )
    out = {r.id: r for r in eng.resolve_halal(est).df.collect()}
    assert out["m3"].isHalal is True
    assert out["m3"].halalSource.startswith("MUIS_VERIFIED_")
    # keyword-tier verdicts survive where ER found nothing
    assert out["m1"].isHalal is True and out["m1"].halalSource == "KEYWORD_MATCH"
    assert out["m2"].isHalal is False


def test_sort_and_page(eng):
    named = eng.sort("name").df.collect()
    assert [r.id for r in named][:2] == ["m1", "m2"]  # Ahmad, Char Siu
    page1 = eng.sort("name").page(0, 2).df.collect()
    assert [r.id for r in page1] == ["m1", "m2"]
    page2 = eng.sort("name").page(2, 2).df.collect()
    assert len(page2) == 2 and page2[0].id != "m1"


def test_distance_label(eng):
    out = eng.radius(1.3200, 103.9000, 5.0).with_distance_label().df
    labels = {r.id: r.distance_label for r in out.collect()}
    assert labels["m1"].endswith("m")     # sub-km → metres
    assert "km" in labels["m5"]           # >1 km → km with 1 decimal


def test_pipeline_composes_lazily(eng):
    """EP1 composed end-to-end is one lazy plan (no action until
    collect) and yields the expected final slice."""
    result = (
        eng.filter(category="HAWKER_HEARTLAND_MERCHANT")
        .search("nasi")
        .sort("name")
        .page(0, 50)
        .df.collect()
    )
    assert [r.id for r in result] == ["m5"]


def test_page_after_keyset_walk(eng):
    """Keyset pagination walks the full result set exactly once, in
    the same order as offset paging, across null-distance and
    tied-name rows."""
    with_dist = eng.radius(1.3200, 103.9000, radius_km=1000.0)
    full = with_dist.sort("distance").df.collect()
    walked, after = [], None
    for _ in range(10):
        page = with_dist.page_after(after, by="distance", limit=2).df.collect()
        if not page:
            break
        walked.extend(page)
        after = page[-1]
    assert [r.id for r in walked] == [r.id for r in full]

    # name-sorted variant, no distance column
    full_n = eng.sort("name").df.collect()
    walked, after = [], None
    for _ in range(10):
        page = eng.page_after(after, by="name", limit=2).df.collect()
        if not page:
            break
        walked.extend(page)
        after = page[-1]
    assert [r.id for r in walked] == [r.id for r in full_n]


def test_page_after_plans_topk_not_offset(eng):
    """Deep keyset pages plan as filter + TakeOrderedAndProject; no
    global sort-and-skip (the offset form) anywhere in the plan."""
    last = eng.sort("name").page(0, 2).df.collect()[-1]
    plan = eng.page_after(last, by="name", limit=2).df._jdf.queryExecution().explainString(
        eng.df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Offset" not in plan


_DIM_ROWS = [
    ("h1", "Ahmad Biryani House", "419701"),            # exact, same postal
    ("h2", "Warung Pak Alix Nasi Padang", "999999"),    # one-letter typo
]


@pytest.fixture
def parquet_merchants(spark, tmp_path):
    path = str(tmp_path / "merchants.parquet")
    spark.createDataFrame(ROWS, MERCHANT_SCHEMA).write.parquet(path)
    dim = spark.createDataFrame(_DIM_ROWS, "establishment_id string, name string, postal string")
    return path, spark.read.parquet(path), dim


def _merchant_scans(df) -> int:
    """FileScan nodes of the merchants in the executed plan (the dim
    has no ``postalCode`` column, and every merchant scan reads it)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("postalCode#" in line for line in plan.splitlines() if "FileScan" in line)


def test_resolve_halal_scans_merchants_once_per_tier(spark, parquet_merchants, jobs_run):
    """Each tier of the entity resolution is computed once: the exact
    tier and the residual anti-join each scan the merchants, and the
    fact side of resolve_halal's join scans them once more (the
    two-window form scanned them 7 times and ran 15 jobs)."""
    from cdc_makanmana_spark.operators.similarity import best_matches

    _, merchants, dim = parquet_merchants
    out = MakanmanaEngine(merchants).enrich().resolve_halal(dim).df
    _, jobs = jobs_run(lambda: out.write.format("noop").mode("overwrite").save())
    assert _merchant_scans(out) == 3
    assert jobs == 8

    best = best_matches(merchants, dim, "name", "name", "id", "establishment_id",
                        "postalCode", "postal")
    best.write.format("noop").mode("overwrite").save()
    assert _merchant_scans(best) == 2
    assert {r.id: r.halalSource for r in out.collect() if r.halalSource.startswith("MUIS")} == {
        "m1": "MUIS_VERIFIED_EXACT_POSTAL",
        "m5": "MUIS_VERIFIED_SIMILAR_NAME",
    }


def _masked_plan(df) -> str:
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?|\b(x_)\d+", r"\1", plan)


def test_publish_plan_builds_once_per_process(spark, parquet_merchants):
    """The enrich and entity-resolution expressions are built once per
    gateway: a second build of the publish plan makes a few hundred
    Py4J round trips (about 5,000 when every build made its own), and
    the plan equals a fresh build's and a new session's."""
    from cdc_makanmana_spark.functions import memo

    path, merchants, dim = parquet_merchants

    def build(m=merchants, d=dim):
        return MakanmanaEngine(m).enrich().resolve_halal(d).df

    memo._MEMO.clear()
    fresh = _masked_plan(build())
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    # Object detaches ("m" commands) are not counted: py4j sends them
    # from its own queue, whenever it gets to garbage of any age.
    def counting(command, *args, **kwargs):
        calls[0] += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        again = build()
    finally:
        del client.send_command
    assert calls[0] <= 600, calls[0]
    assert _masked_plan(again) == fresh

    other = spark.newSession()
    in_other = build(
        other.read.parquet(path),
        other.createDataFrame(_DIM_ROWS, "establishment_id string, name string, postal string"),
    )
    assert _masked_plan(in_other) == fresh
