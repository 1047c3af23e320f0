"""End-to-end engine facade (SURVEY.md §7: the reference-derived API).

A user of the reference app queries one enriched merchants table
through a fixed pipeline — search → filter → sort → page (reference:
src/App.tsx:164-172, EP1) — over data produced by an enrichment ETL
(EP3) and served from a TTL'd snapshot cache (EP2). ``MakanmanaEngine``
is that surface on Spark: construct it over any DataFrame with the
merchant-shaped columns, chain the same operations lazily, and let
Catalyst own the physical plan.

Column conventions follow the reference's silver schema
(src/data/merchants.ts:29-38): ``name address postalCode type LAT LON``
plus derived ``cuisine isHalal halalSource distance_km``. Every method
returns a NEW engine wrapping the transformed (still lazy) DataFrame;
``.df`` exposes it.

Scale notes: the whole pipeline is one declarative plan — text
predicates reach the scan, the halal entity-resolution broadcasts only
its dim-scale side (the establishment table; the fact-scale match set
is never hinted), radius queries pre-filter on a sargable bounding
box, and sort+page plans as TakeOrderedAndProject (top-k) rather than
a global sort. The publish plan, ``enrich().resolve_halal()``, scans
the merchants three times (the exact tier, the residual anti-join and
the fact side of the final join) and ranks with one aggregate; its
expressions do not depend on the data and are built once per process
(``functions.memo``), so a rebuild costs a few hundred Py4J round
trips instead of about 5,000.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_makanmana_spark.functions.classify import keyword_classes, keyword_flag_with_veto
from cdc_makanmana_spark.functions.geo import format_distance
from cdc_makanmana_spark.functions.memo import column_bundle
from cdc_makanmana_spark.operators.enrich import prefix_fallback_lookup
from cdc_makanmana_spark.operators.radius import radius_query
from cdc_makanmana_spark.operators.search import multi_column_search, route_search_term
from cdc_makanmana_spark.operators.similarity import best_matches

# Cuisine keyword rule table (P2 parity: src/data/merchants.ts:123-151
# — a multi-label substring classifier with a 'Local' default).
CUISINE_RULES: dict[str, list[str]] = {
    "Chinese": ["chinese", "dim sum", "wanton", "noodle", "zi char", "congee"],
    "Malay": ["malay", "nasi lemak", "rendang", "satay", "warung"],
    "Indian": ["indian", "biryani", "prata", "tandoori", "curry"],
    "Japanese": ["japanese", "sushi", "ramen", "izakaya", "donburi"],
    "Korean": ["korean", "kimchi", "bibimbap", "bulgogi"],
    "Thai": ["thai", "tom yum", "pad thai"],
    "Vietnamese": ["vietnamese", "pho", "banh mi"],
    "Western": ["western", "grill", "steak", "burger", "pasta", "pizza"],
    "Halal": ["halal", "muslim"],
    "Seafood": ["seafood", "fish", "crab", "prawn", "oyster"],
    "Vegetarian": ["vegetarian", "vegan", "salad"],
    "Dessert": ["dessert", "cake", "ice cream", "bakery", "pastry"],
    "Beverage": ["coffee", "tea", "juice", "kopi", "bubble tea"],
    "Fusion": ["fusion"],
    "Fast Food": ["fast food", "fried chicken"],
}
CUISINE_DEFAULT = "Local"

# Halal keyword classifier lists (P8 parity:
# src/services/externalData.ts:426-461 — negative keywords VETO first).
HALAL_POSITIVE = [
    "halal", "muslim", "warung", "biryani", "al-", "bismillah", "sate",
    "nasi padang", "mamak", "kebab", "briyani",
]
HALAL_NEGATIVE = [
    "pork", "bacon", "ham", "lard", "char siu", "bak kut teh", "alcohol",
    "beer", "wine", "bar ", "pub ",
]


@column_bundle
def _enrich_columns() -> tuple[dict[str, Column], dict[str, Column]]:
    """``enrich``'s derived columns, then the provenance column that
    reads the new ``isHalal``."""
    return (
        {
            "cuisine": keyword_classes("name", CUISINE_RULES, CUISINE_DEFAULT),
            "isHalal": keyword_flag_with_veto(
                F.concat_ws(" ", "name", "address"), HALAL_POSITIVE, HALAL_NEGATIVE
            ),
        },
        {
            "halalSource": F.when(F.col("isHalal"), F.lit("KEYWORD_MATCH")).otherwise(
                F.lit("NOT_CHECKED")
            ),
        },
    )


@column_bundle
def _resolve_columns(id_col: str) -> tuple[list[Column], Column, dict[str, Column]]:
    """``resolve_halal``'s match projection, join condition and the
    upgraded verdict columns (the MUIS tier outranks the keyword tier)."""
    src = F.col("__src")
    return (
        [F.col("l_id").alias("__mid"), F.col("match_source").alias("__src")],
        F.col(id_col) == F.col("__mid"),
        {
            "isHalal": src.isNotNull() | F.coalesce(F.col("isHalal"), F.lit(False)),
            "halalSource": F.when(
                src.isNotNull(), F.concat(F.lit("MUIS_VERIFIED_"), src)
            ).otherwise(F.coalesce(F.col("halalSource"), F.lit("NOT_CHECKED"))),
        },
    )


_SEARCH_STRING_COLS = ["name", "postalCode", "address", "type", "businessCategory"]
_SEARCH_ARRAY_COLS = ["cuisine"]


class MakanmanaEngine:
    """Immutable, chainable query facade over a merchants DataFrame.

    >>> eng = MakanmanaEngine(df)
    >>> eng.search("ayam").filter(category="HAWKER_HEARTLAND_MERCHANT",
    ...                           halal_dim=halal_df).sort("name").page(0, 50).df
    """

    def __init__(self, df: DataFrame):
        self.df = df

    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    def _wrap(self, df: DataFrame) -> "MakanmanaEngine":
        return MakanmanaEngine(df)

    # ---- EP3: enrichment (bronze → silver) --------------------------------

    def enrich(self) -> "MakanmanaEngine":
        """P1/P2: derive ``cuisine`` (multi-label keyword classes,
        default Local) and the keyword-tier halal verdict with
        provenance, exactly the derive-columns projection of
        ``enhanceMerchantData`` (merchants.ts:88-99)."""
        derived, source = _enrich_columns()
        out = self.df.withColumns(derived).withColumns(source)
        return self._wrap(out)

    def resolve_halal(
        self, establishments: DataFrame, id_col: str = "id"
    ) -> "MakanmanaEngine":
        """J1/J2: fuzzy entity-resolution against a halal-establishment
        dim table; upgrades ``isHalal``/``halalSource`` where a match
        resolves (the MUIS tier outranks the keyword tier,
        externalData.ts:526-532)."""
        best = best_matches(
            self.df,
            establishments,
            left_name="name",
            right_name="name",
            left_id=id_col,
            right_id="establishment_id",
            left_postal="postalCode",
            right_postal="postal",
        )
        matched, on, upgraded = _resolve_columns(id_col)
        # NO broadcast hint here: ``best`` has one row per matched
        # MERCHANT — it scales with the fact side, not the dim side, so
        # pinning it to a broadcast is a driver/executor OOM at 100×.
        # AQE picks broadcast at runtime when the match set happens to
        # be small; the shuffled hash join on the key is the safe
        # default. (best_matches' internal broadcast of the
        # establishment DIM side remains — that side is dim-scale.)
        out = (
            self.df.join(best.select(*matched), on, "left")
            .withColumns(upgraded)
            .drop("__mid", "__src")
        )
        return self._wrap(out)

    # ---- EP1: interactive query pipeline ----------------------------------

    def search(
        self, term: str, postal_dim: DataFrame | None = None, radius_km: float = 10.0
    ) -> "MakanmanaEngine":
        """F1/F2 + G3: router — a 6-digit postal token triggers the
        geo branch (geocode via postal dim → radius query, 10 km cutoff
        per merchantUtils.ts:56); anything else is the multi-column
        substring filter; blank passes through (merchantUtils.ts:18-34).

        The geocode is the one eager step: one aggregate over the
        postal dim pruned to the token's 3-digit prefix
        (``prefix_fallback_lookup``, the same exact → prefix → default
        rule as ``prefix_fallback_join``). The center comes back as
        Python floats, so the radius bounding box stays literal
        comparisons that reach the snapshot scan as pushed filters."""
        kind, payload = route_search_term(term)
        if kind == "empty":
            return self
        if kind == "postal" and postal_dim is not None:
            center = prefix_fallback_lookup(
                postal_dim,
                "postal",
                payload,
                ["lat", "lon"],
                defaults={"lat": 1.3521, "lon": 103.8198},  # locationUtils.ts:72
            )
            return self.radius(center["lat"], center["lon"], radius_km)
        cols = [c for c in _SEARCH_STRING_COLS if c in self.df.columns]
        arrs = [c for c in _SEARCH_ARRAY_COLS if c in self.df.columns]
        return self._wrap(multi_column_search(self.df, term, cols, arrs))

    def radius(
        self, lat: float, lon: float, radius_km: float = 10.0
    ) -> "MakanmanaEngine":
        """G1-G3: bounding-box pre-filter → haversine annotate →
        radius filter → nearest-first sort."""
        return self._wrap(
            radius_query(self.df, lat, lon, radius_km, lat_col="LAT", lon_col="LON")
        )

    def filter(
        self,
        category: str | None = None,
        budget_only: bool = False,
        halal_only: bool = False,
    ) -> "MakanmanaEngine":
        """F3/F4/F5: category equality, nested budget-meal flag, and the
        halal filter over the resolved verdict column
        (merchantUtils.ts:124-170)."""
        df = self.df
        if category and category.lower() not in ("all", ""):
            df = df.filter(F.col("type") == F.lit(category))
        if budget_only:
            df = df.filter(F.col("filters.secondary.budgetmeal"))
        if halal_only:
            df = df.filter(F.col("isHalal"))
        return self._wrap(df)

    def sort(self, by: str = "distance") -> "MakanmanaEngine":
        """O1/O2: name sort or distance sort with explicit nulls-last
        (merchantUtils.ts:182-207); default distance-then-name."""
        if by == "name":
            order = [F.asc("name")]
        elif by == "distance" and "distance_km" in self.df.columns:
            order = [F.asc_nulls_last("distance_km"), F.asc("name")]
        else:
            order = [F.asc("name")]
        return self._wrap(self.df.orderBy(*order))

    def page(self, offset: int = 0, limit: int = 50) -> "MakanmanaEngine":
        """O3: first-paint page of 50, +50 per load (App.tsx:21,448-452).
        offset=0 plans as TakeOrderedAndProject under a sort; deeper
        offsets use the offset/limit form. Prefer :meth:`page_after`
        for deep pagination — offset re-sorts and discards N rows per
        page, which SURVEY §2.6 itself flags as the non-scale form."""
        df = self.df.offset(offset) if offset else self.df
        return self._wrap(df.limit(limit))

    def page_after(
        self,
        after=None,
        by: str = "distance",
        limit: int = 50,
    ) -> "MakanmanaEngine":
        """O3 at scale: keyset (seek) pagination. ``after`` is the last
        row of the previous page (a Row or dict carrying the sort
        keys); None returns the first page. Every page plans as
        filter + TakeOrderedAndProject — a per-partition top-k with a
        pushable range predicate — instead of offset's sort-everything-
        and-skip-N, so page 1000 costs the same as page 1
        (App.tsx:448-452 load-more, re-expressed seek-style).

        Sort key is (distance_km nulls-last, name, id) when distance
        is present, else (name, id); ``id`` makes the key unique so no
        row is skipped or repeated across page boundaries even when
        names tie."""
        use_distance = by == "distance" and "distance_km" in self.df.columns
        has_id = "id" in self.df.columns
        keys = (["distance_km"] if use_distance else []) + ["name"] + (
            ["id"] if has_id else []
        )
        order = (
            [F.asc_nulls_last("distance_km")] if use_distance else []
        ) + [F.asc(k) for k in keys if k != "distance_km"]
        df = self.df
        if after is not None:
            a = after.asDict() if hasattr(after, "asDict") else dict(after)
            # strict lexicographic "greater than the last-seen key",
            # with NULL distance ordered last to match the sort
            name_tail = F.col("name") > F.lit(a["name"])
            if has_id and "id" in a:
                name_tail = name_tail | (
                    (F.col("name") == F.lit(a["name"]))
                    & (F.col("id") > F.lit(a["id"]))
                )
            if use_distance:
                d0 = a.get("distance_km")
                if d0 is None:
                    pred = F.col("distance_km").isNull() & name_tail
                else:
                    pred = (
                        (F.col("distance_km") > F.lit(d0))
                        | ((F.col("distance_km") == F.lit(d0)) & name_tail)
                        | F.col("distance_km").isNull()
                    )
            else:
                pred = name_tail
            df = df.filter(pred)
        return self._wrap(df.orderBy(*order).limit(limit))

    # ---- display projections ----------------------------------------------

    def with_distance_label(self) -> "MakanmanaEngine":
        """P7: '850m' / '1.2km' display column (locationUtils.ts:157-163)."""
        if "distance_km" not in self.df.columns:
            return self
        return self._wrap(
            self.df.withColumn("distance_label", format_distance("distance_km"))
        )

    def count(self) -> int:
        """O4: result count."""
        return self.df.count()
