"""Operator tests on synthetic domain fixtures (FIXTURES.md part A
shapes, generated deterministically in-code) plus the driver parquet
fixtures at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_makanmana_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from cdc_makanmana_spark.operators.enrich import (
    prefix_fallback_join,
    priority_coalesce_enrich,
)
from cdc_makanmana_spark.operators.radius import radius_query
from cdc_makanmana_spark.operators.search import multi_column_search, route_search_term
from cdc_makanmana_spark.operators.similarity import argmax_per_group, similarity_join
from cdc_makanmana_spark.tables import load_table


# --- search router (F2) ------------------------------------------------------

def test_route_search_term():
    assert route_search_term("") == ("empty", None)
    assert route_search_term("  ") == ("empty", None)
    assert route_search_term("560123") == ("postal", "560123")
    assert route_search_term("blk 5 Singapore 560123 foo") == ("postal", "560123")
    assert route_search_term("chicken rice") == ("text", "chicken rice")


def test_multi_column_search(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, name="Hainanese Chicken Rice", address="1 Maxwell Rd", cuisine=["Chinese"]),
            Row(id=2, name="Satay Corner", address="Lau Pa Sat", cuisine=["Malay", "BBQ Chicken"]),
            Row(id=3, name="Veggie Bowl", address="Chicken Street 5", cuisine=["Salad"]),
            Row(id=4, name="Pasta Place", address="2 Orchard Rd", cuisine=["Italian"]),
        ]
    )
    got = multi_column_search(df, "chicken", ["name", "address"], ["cuisine"])
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    # blank term → passthrough (F7)
    assert multi_column_search(df, " ", ["name"]).count() == 4


# --- radius query (G3) --------------------------------------------------------

def test_radius_query_filters_and_sorts(spark):
    df = spark.createDataFrame(
        [
            Row(id="near", LAT=1.3530, LON=103.8200),
            Row(id="mid", LAT=1.3800, LON=103.8500),
            Row(id="far", LAT=1.4500, LON=104.0000),
        ]
    )
    got = radius_query(df, 1.3521, 103.8198, radius_km=10.0).collect()
    assert [r.id for r in got] == ["near", "mid"]
    assert got[0].distance_km < 0.5
    assert got[1].distance_km < 10.0


# --- similarity join (J1-J4) ---------------------------------------------------

@pytest.fixture(scope="module")
def er_fixture(spark):
    merchants = spark.createDataFrame(
        [
            # exact cleaned-name match, same postal → EXACT_POSTAL
            Row(id="m1", name="Al-Amin Restaurant Pte Ltd", postal="560123"),
            # exact cleaned-name match, different postal → EXACT_NAME
            Row(id="m2", name="Haji Satay House #01-23", postal="111111"),
            # fuzzy: abbreviation variant (restaurant → rest)
            Row(id="m3", name="Bismillah Biryani Restaurant Dhoby", postal="238826"),
            # generic-words-only overlap → must NOT match (specific gate)
            Row(id="m4", name="Western Food Kitchen", postal="333333"),
            # no candidate at all
            Row(id="m5", name="Quantum Flux Labs", postal="444444"),
        ]
    )
    establishments = spark.createDataFrame(
        [
            Row(eid="h1", ename="Al Amin Restaurant", epostal="560123"),
            Row(eid="h2", ename="Haji Satay House", epostal="999999"),
            Row(eid="h3", ename="Bismillah Biryani Rest Dhoby", epostal="238826"),
            Row(eid="h4", ename="Western Food Palace Kitchen", epostal="555555"),
        ]
    )
    return merchants, establishments


def test_similarity_join_tiers(spark, er_fixture):
    merchants, est = er_fixture
    got = {
        r["id_l"]: r
        for r in similarity_join(
            merchants, est, "name", "ename", "id", "eid", "postal", "epostal"
        ).collect()
    }
    assert got["m1"]["match_source"] == "EXACT_POSTAL"
    assert got["m1"]["eid_r"] == "h1"
    assert got["m2"]["match_source"] == "EXACT_NAME"
    assert got["m2"]["eid_r"] == "h2"
    assert got["m3"]["match_source"] == "SIMILAR_POSTAL"
    assert got["m3"]["eid_r"] == "h3"
    assert got["m3"]["similarity"] >= 0.95
    # generic-only overlap rejected (halalService.ts:136-138 gate)
    assert got["m4"]["eid_r"] is None
    assert got["m5"]["eid_r"] is None
    # every left row present exactly once
    assert len(got) == 5


def test_argmax_per_group(spark):
    df = spark.createDataFrame(
        [Row(g="a", v=1, id=1), Row(g="a", v=9, id=2), Row(g="b", v=5, id=3)]
    )
    got = argmax_per_group(df, ["g"], [F.desc("v")]).collect()
    assert {(r.g, r.id) for r in got} == {("a", 2), ("b", 3)}


# --- dedup family ---------------------------------------------------------------

def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello   World"),
            Row(doc_id=2, text="hello world"),   # same after normalization
            Row(doc_id=3, text="something else"),
        ]
    )
    got = dedup_exact(df, "text", "doc_id")
    assert sorted(r.doc_id for r in got.collect()) == [1, 3]


def test_ngram_jaccard_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " tomorrow"),      # near-dup
            Row(doc_id=3, text="completely different words entirely here now"),
        ]
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


def test_sorted_neighborhood_pairs(spark):
    """SNM: adjacent-in-sort near-dups pair; docs beyond the window or
    in another prefix block don't; blank/NULL text is dropped; w < 1
    rejected."""
    import pytest

    from cdc_makanmana_spark.operators.dedup import sorted_neighborhood_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " extra"),          # sort-adjacent near-dup
            Row(doc_id=3, text="alpha unrelated words entirely different"),
            Row(doc_id=4, text="zzz another block entirely"),  # different prefix block
            Row(doc_id=5, text=None),
            Row(doc_id=6, text="   "),
        ]
    )
    got = sorted_neighborhood_pairs(df, "text", "doc_id", window=2, threshold=0.5)
    rows = got.collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].jaccard > 0.8
    # window=1: only sort-adjacent pairs form — 1-2 and 2-3, never 1-3
    all_pairs = sorted_neighborhood_pairs(
        df, "text", "doc_id", window=1, threshold=0.0
    ).collect()
    assert sorted((p.id_a, p.id_b) for p in all_pairs) == [(1, 2), (2, 3)]

    # reverse_key pass: suffix-templated dups (shared tail, different
    # head) are invisible to the forward prefix block but adjacent
    # under the reversed key
    suf = spark.createDataFrame(
        [
            (10, "apple one shared boilerplate tail ending here"),
            (11, "zebra two shared boilerplate tail ending here"),
            (12, "totally different text with another ending word"),
        ],
        "doc_id long, text string",
    )
    fwd = sorted_neighborhood_pairs(suf, "text", "doc_id", window=1, threshold=0.5)
    rev = sorted_neighborhood_pairs(
        suf, "text", "doc_id", window=1, threshold=0.5, reverse_key=True
    )
    assert [(p.id_a, p.id_b) for p in fwd.collect()] == []
    assert [(p.id_a, p.id_b) for p in rev.collect()] == [(10, 11)]
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "text", "doc_id", window=0)


def test_minhash_near_duplicates(spark):
    base = ("spark is a unified analytics engine for large scale data "
            "processing with high level apis in scala java python and r")
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),  # identical → est_jaccard 1.0
            Row(doc_id=3, text="totally unrelated content about cooking pasta at home"),
        ]
    )
    pairs = minhash_near_duplicates(df, "text", "doc_id", threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].est_jaccard == 1.0


def test_simhash_similar_docs_close(spark):
    # SimHash needs enough tokens for the per-bit votes to stabilize;
    # with tiny docs the sign of a near-zero vote flips on one token.
    import random

    rng = random.Random(1)
    vocab = [f"w{i:03d}" for i in range(200)]
    base = " ".join(rng.sample(vocab, 60))
    near = base + " extraword"
    other = " ".join(f"x{i:03d}" for i in range(60))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=other)]
    )
    got = {r["__id"]: r["simhash"] for r in simhash_buckets(df, "text", "doc_id").collect()}
    ham12 = bin(got[1] ^ got[2]).count("1")
    ham13 = bin(got[1] ^ got[3]).count("1")
    assert ham12 <= 8 < ham13


def test_md5_hash64_matches_python_reference(spark):
    # md5_hash64 is the cross-engine contract the q25 oracle relies on:
    # its value must equal int(md5(token)[:16], 16) as a SIGNED 64-bit,
    # for any engine that can md5 + slice + do integer arithmetic.
    import hashlib

    from cdc_makanmana_spark.operators.dedup import md5_hash64

    toks = ["hello", "w007", "", "ünïcode", "a b", "9" * 40]
    df = spark.createDataFrame([Row(t=t) for t in toks])
    got = {r.t: r.h for r in df.select("t", md5_hash64("t").alias("h")).collect()}
    for t in toks:
        u = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert got[t] == signed, t


def test_simhash_md5_variant_differs_but_same_shape(spark):
    # Same docs through both token hashes: values differ (different
    # hash family) but both are 64-bit longs and identical docs still
    # collide at distance 0.
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="alpha  beta gamma ")]
    )
    for th in ("xxhash64", "md5_64"):
        got = {r["__id"]: r["simhash"] for r in
               simhash_buckets(df, "text", "doc_id", token_hash=th).collect()}
        assert got[1] == got[2]  # normalization makes the texts identical


# --- enrichment joins (J5, J7) ----------------------------------------------------

def test_prefix_fallback_join(spark):
    fact = spark.createDataFrame(
        [Row(id=1, postal="560123"), Row(id=2, postal="560999"), Row(id=3, postal="999999")]
    )
    dim = spark.createDataFrame(
        [Row(postal="560123", lat=1.36, lng=103.85), Row(postal="560001", lat=1.37, lng=103.84)]
    )
    got = {
        r.id: r
        for r in prefix_fallback_join(
            fact, dim, "postal", "postal", ["lat", "lng"],
            defaults={"lat": 1.3521, "lng": 103.8198},
        ).collect()
    }
    assert got[1].lat == 1.36          # exact
    assert got[2].lat == 1.37          # prefix 560 → min-key row 560001
    assert got[3].lat == 1.3521        # default constant


def test_prefix_fallback_join_duplicate_keys_deterministic(spark):
    """Duplicate dim keys (a real dim at organic scale outgrows its key
    space) must neither fan the lookup out nor resolve by engine
    whim: both tiers take the lexicographic-min (key, *values) row.
    The 10× oracle sweep caught min_by(value, key) tie-breaking
    differently in Spark vs DuckDB before this rule."""
    fact = spark.createDataFrame(
        [Row(id=1, postal="560123"), Row(id=2, postal="560999")]
    )
    dim = spark.createDataFrame(
        [
            Row(postal="560123", lat=1.90, lng=103.99),  # dup key, larger values
            Row(postal="560123", lat=1.36, lng=103.85),  # dup key, lex-min row
            Row(postal="560001", lat=1.37, lng=103.84),
            Row(postal="560001", lat=1.05, lng=103.70),  # lex-min for prefix 560
        ]
    )
    out = prefix_fallback_join(
        fact, dim, "postal", "postal", ["lat", "lng"],
        defaults={"lat": 1.3521, "lng": 103.8198},
    ).collect()
    assert len(out) == 2, "duplicate dim keys must not fan out the lookup"
    got = {r.id: r for r in out}
    assert got[1].lat == 1.36          # exact tier: lex-min of the dup rows
    assert got[2].lat == 1.05          # prefix tier: lex-min over the prefix


def test_priority_coalesce_enrich(spark):
    fact = spark.createDataFrame([Row(id="a"), Row(id="b"), Row(id="c")])
    google = spark.createDataFrame(
        [("a", "g-1", None)], "key string, phone string, category string"
    )
    onemap = spark.createDataFrame(
        [Row(key="a", phone="o-1", category="food"), Row(key="b", phone="o-2", category="shop")]
    )
    got = {
        r.id: r
        for r in priority_coalesce_enrich(
            fact, [(google, "google"), (onemap, "onemap")],
            "id", "key", ["phone", "category"], provenance_col="enrich_source",
        ).collect()
    }
    assert got["a"].phone == "g-1"               # google wins priority
    assert got["a"].category == "food"           # per-column fallback
    assert got["a"].enrich_source == "google"
    assert got["b"].phone == "o-2"
    assert got["b"].enrich_source == "onemap"
    assert got["c"].phone is None
    assert got["c"].enrich_source is None


# --- fixture smoke (t1 shape) -------------------------------------------------------

def test_flagship_on_sf0001(spark, sf_dir):
    from cdc_makanmana_spark.plans.queries import flagship

    rows = flagship(spark, sf_dir).collect()
    assert len(rows) > 0
    assert rows[0]["count_order"] > 0


def test_events_nanos_readable(spark, sf_dir):
    e = load_table(spark, "events", sf_dir)
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.count() > 0


def test_connected_components_chain_and_clusters(spark):
    from cdc_makanmana_spark.operators.dedup import connected_components, dedup_keep_best

    # chain 1-2-3 (no direct 1-3 edge), pair 10-11, isolated-pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 99]], "doc_id long")
    kept_exact = {r.doc_id for r in dedup_keep_best(docs, pairs, "doc_id").collect()}
    # one survivor per cluster + the untouched doc
    assert kept_exact == {1, 10, 20, 99}
    # the cheap approximation keeps chain heads only by pair, same here
    kept_approx = {
        r.doc_id for r in dedup_keep_best(docs, pairs, "doc_id", exact=False).collect()
    }
    assert kept_approx == {1, 10, 20, 99}


def test_connected_components_chain_where_approx_differs(spark):
    """Star-vs-chain case: approximate pair-drop keeps a chain member
    the exact clustering removes."""
    from cdc_makanmana_spark.operators.dedup import connected_components

    # chain 5-4, 4-3: approx drops id_b of each pair ({4,3}) keeping 5;
    # exact groups {3,4,5} into component 3.
    pairs = spark.createDataFrame([(5, 4), (4, 3)], "id_a long, id_b long")
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comps == {3: 3, 4: 3, 5: 3}


def test_similarity_join_loose_thresholds_j4(spark):
    """J4 (externalData.ts:281-323): the second matcher runs the SAME
    kernel with looser parameters — >= 2 matching tokens, no 0.95 score
    gate, fewer specific-token demands. The operator is parameterized,
    so the loose tier is a call-site config, not new code."""
    from cdc_makanmana_spark.operators.similarity import similarity_join

    left = spark.createDataFrame(
        [("m1", "Hassan Corner Kebab", "520101")],
        "id string, name string, postalCode string",
    )
    right = spark.createDataFrame(
        [("e1", "Hassan Kebab House Restaurant", "520101")],
        "establishment_id string, name string, postal string",
    )
    strict = similarity_join(
        left, right, "name", "name", "id", "establishment_id",
        "postalCode", "postal",
    )
    assert strict.collect()[0]["establishment_id_r"] is None  # 2/4 tokens: rejected

    loose = similarity_join(
        left, right, "name", "name", "id", "establishment_id",
        "postalCode", "postal",
        threshold=0.4, min_tokens=2, min_specific=1,
    )
    row = loose.collect()[0]
    assert row["establishment_id_r"] == "e1"
    assert row["match_source"] == "SIMILAR_POSTAL"


def test_cosine_topk_ivf_recall_vs_bruteforce(spark):
    """IVF multi-probe top-k over the embeddings fixture: with a
    healthy probe budget the probed cells must contain the true
    top-1, and recall@10 should be high (>= 0.7 on this fixture)."""
    from cdc_makanmana_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [float((i * 37 % 19) - 9) / 9.0 for i in range(64)]
    exact = {r.vec_id: r.cosine_sim for r in cosine_topk_bruteforce(e, q, k=10).collect()}

    # full probe == exhaustive: must equal brute force exactly
    full = {r.vec_id: r.cosine_sim for r in
            cosine_topk_ivf(e, q, k=10, n_cells=8, n_probe=8).collect()}
    assert full == exact

    # partial probe: recall floor on this (near-uniform, so
    # hard-for-IVF) fixture, and every returned score is exact
    approx = cosine_topk_ivf(e, q, k=10, n_cells=8, n_probe=4).collect()
    assert len(set(exact) & {r.vec_id for r in approx}) >= 4
    for r in approx:
        if r.vec_id in exact:
            assert abs(r.cosine_sim - exact[r.vec_id]) < 1e-9


def test_embedding_near_duplicates_lsh_vs_blocked(spark):
    """The LSH-blocked embedding near-dup path executes (round-2 red
    item: it raised TypeError unconditionally) and its pairs are a
    subset of the exact-recall attribute-blocked path on the same
    fixture, with identical cosine values on the overlap; planted
    exact-duplicate vectors (cosine 1.0, same signature bucket by
    construction) must always surface."""
    import random

    from cdc_makanmana_spark.operators.ann import (
        embedding_near_duplicates,
        embedding_near_duplicates_by_block,
    )

    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    # planted exact dups: same vector under new ids
    rows.append((100, list(rows[0][1])))
    rows.append((101, list(rows[1][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").withColumn(
        "block", F.lit(1)
    )

    lsh = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates(
            df, threshold=0.95, vec_col="embedding", id_col="vec_id", bits=8, dim=dim
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates_by_block(
            df, "block", threshold=0.95, vec_col="embedding", id_col="vec_id"
        ).collect()
    }
    assert (0, 100) in lsh and (1, 101) in lsh  # identical vectors, same bucket
    assert set(lsh) <= set(exact)  # LSH blocks only ever lose candidates
    for pair, sim in lsh.items():
        assert sim == exact[pair]

    # dim omitted -> schema-metadata path (round-3 verdict item: no
    # driver-side first() probe may remain); bare column without
    # metadata must raise instead of probing
    import pytest

    stamped = df.withMetadata("embedding", {"dim": dim})
    via_meta = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates(
            stamped, threshold=0.95, vec_col="embedding", id_col="vec_id", bits=8
        ).collect()
    }
    assert via_meta == lsh
    with pytest.raises(ValueError, match="dim"):
        embedding_near_duplicates(
            df, threshold=0.95, vec_col="embedding", id_col="vec_id", bits=8
        )


def test_embedding_near_duplicates_banded_recall(spark):
    """OR-of-bands amplification (round-3 verdict item #6): on planted
    near-dup pairs at cosine ~0.96-0.99, the single-signature form
    misses pairs that straddle a bucket boundary; 8 independent bands
    recover recall >= 0.95, found pairs stay a subset of the exact
    blocked path with identical cosines, and bands never invent pairs
    below threshold."""
    import random

    from cdc_makanmana_spark.operators.ann import (
        embedding_near_duplicates,
        embedding_near_duplicates_by_block,
    )

    rng = random.Random(31)
    dim = 16
    rows, planted = [], []
    for i in range(50):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
        # near-dup twin: small additive noise -> cosine ~0.96-0.995
        twin = [x + rng.uniform(-0.16, 0.16) for x in v]
        rows.append((1000 + i, twin))
        planted.append((i, 1000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").withColumn(
        "block", F.lit(1)
    )

    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates_by_block(
            df, "block", threshold=0.95, vec_col="embedding", id_col="vec_id"
        ).collect()
    }
    truth = {p for p in planted if p in exact}  # twins that landed >= 0.95
    assert len(truth) >= 20  # the fixture really plants enough positives

    def run(bands):
        return {
            (r.id_a, r.id_b): r.cosine_sim
            for r in embedding_near_duplicates(
                df, threshold=0.95, vec_col="embedding", id_col="vec_id",
                bits=8, dim=dim, bands=bands,
            ).collect()
        }

    single, banded = run(1), run(8)
    recall_1 = len(truth & set(single)) / len(truth)
    recall_8 = len(truth & set(banded)) / len(truth)
    assert recall_1 < 1.0          # single signature genuinely misses here
    assert recall_8 >= 0.95        # banding buys the recall back
    assert recall_8 > recall_1
    # banding changes candidate generation only — never the scores, and
    # never admits a pair the exact path rejects
    assert set(banded) <= set(exact)
    for pair, sim in banded.items():
        assert sim == exact[pair]


def test_asof_join_semantics(spark):
    """As-of join: inclusive tie (a right row AT the probe time is
    visible), strictly-later rows are not, keys never leak across
    groups, and unmatched left rows carry NULLs. The union+window form
    must agree with a naive per-row argmax reference computed in
    Python."""
    from cdc_makanmana_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0), (2, 15, 9.0)],
        "k long, t long, v double",
    )
    left = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (1, 99), (2, 14), (3, 50)],
        "k long, t long",
    )
    out = {
        (r.k, r.t): (r.obs_t, r.obs_v)
        for r in asof_join(
            left, right, key_cols=["k"], left_ts="t", right_ts="t",
            value_cols=["v"], prefix="obs_",
        ).collect()
    }
    assert out[(1, 5)] == (None, None)          # nothing yet
    assert out[(1, 10)] == (10, 1.0)            # inclusive tie
    assert out[(1, 25)] == (20, 2.0)            # latest preceding
    assert out[(1, 99)] == (30, 3.0)
    assert out[(2, 14)] == (None, None)         # other key's 10 invisible
    assert out[(3, 50)] == (None, None)         # key with no right rows

    # plan shape: no join operator at all — one window over the union
    plan = asof_join(
        left, right, key_cols=["k"], left_ts="t", right_ts="t",
        value_cols=["v"], prefix="obs_",
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan and "Window" in plan


def test_asof_join_tolerance(spark):
    """tolerance nulls matches older than the bound — inclusive at the
    boundary, NULLs for too-old, unchanged for in-tolerance; numeric
    and timestamp time columns both honor it."""
    from cdc_makanmana_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0)], "k long, t long, v double"
    )
    left = spark.createDataFrame(
        [(1, 12), (1, 20), (1, 35), (1, 99)], "k long, t long"
    )
    out = {
        r.t: (r.obs_t, r.obs_v)
        for r in asof_join(
            left, right, key_cols=["k"], left_ts="t", right_ts="t",
            value_cols=["v"], prefix="obs_", tolerance=15,
        ).collect()
    }
    assert out[12] == (10, 1.0)     # age 2 <= 15
    assert out[20] == (20, 2.0)     # inclusive tie, age 0
    assert out[35] == (20, 2.0)     # age 15, boundary inclusive
    assert out[99] == (None, None)  # age 79 > 15 -> stale, nulled

    # timestamp columns: tolerance is seconds
    rts = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5.0)], "k long, ts string, v double"
    ).selectExpr("k", "ts::timestamp AS ts", "v")
    lts = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (1, "2024-01-01 02:00:00")],
        "k long, ts string",
    ).selectExpr("k", "ts::timestamp AS ts")
    got = {
        str(r.ts): r.obs_v
        for r in asof_join(
            lts, rts, key_cols=["k"], left_ts="ts", right_ts="ts",
            value_cols=["v"], prefix="obs_", tolerance=3600,
        ).collect()
    }
    assert got["2024-01-01 00:30:00"] == 5.0   # 30 min old
    assert got["2024-01-01 02:00:00"] is None  # 2 h > 1 h tolerance

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tolerance"):
        asof_join(
            left, right, key_cols=["k"], left_ts="t", right_ts="t",
            value_cols=["v"], prefix="obs_", tolerance=-1,
        )


def test_embedding_neardup_composite_block_scale_path(spark):
    """The scale fix for attribute-blocked embedding dedup (block COUNT
    fixed by the label dictionary => per-block n grows linearly, pairs
    quadratically): widen the block key to label x coarse-quantizer
    cell via ivf_assign. Identical vectors land in identical cells, so
    planted duplicates always survive the composite blocking; the
    composite pair set is a subset of the label-only one with
    identical cosines, and block sizes strictly shrink."""
    import random

    from cdc_makanmana_spark.operators.ann import (
        embedding_near_duplicates_by_block,
        ivf_assign,
        ivf_train,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        rows.append((i, i % 2, [rng.uniform(-1, 1) for _ in range(8)]))
    rows.append((100, 0, list(rows[0][2])))   # planted dup, label 0
    rows.append((101, 1, list(rows[1][2])))   # planted dup, label 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    by_label = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates_by_block(
            df, "label", threshold=0.95, vec_col="embedding", id_col="vec_id"
        ).collect()
    }

    centers = ivf_train(df, n_cells=4, vec_col="embedding")
    composite = ivf_assign(df, centers).withColumn(
        "blk", F.concat_ws(":", "label", "__cell")
    )
    by_comp = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_duplicates_by_block(
            composite, "blk", threshold=0.95, vec_col="embedding", id_col="vec_id"
        ).collect()
    }

    assert (0, 100) in by_comp and (1, 101) in by_comp
    assert set(by_comp) <= set(by_label)
    for pair, sim in by_comp.items():
        assert sim == by_label[pair]

    # blocks genuinely shrink: max composite block < max label block
    max_label = df.groupBy("label").count().agg(F.max("count")).first()[0]
    max_comp = composite.groupBy("blk").count().agg(F.max("count")).first()[0]
    assert max_comp < max_label


def test_interval_join_matches_naive_reference(spark):
    """Binned range join vs a naive python double loop on random data:
    identical (point, interval) pairs for inner and left, bin-edge
    cases included (points at interval start / one tick before end /
    exactly at end, intervals ending on bin boundaries); the plan is
    an equi-join, never a nested loop."""
    import datetime as dt
    import random

    from cdc_makanmana_spark.operators.range import interval_join

    rng = random.Random(5)
    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    points = [(i, rng.choice([1, 2]), ts(rng.uniform(0, 600))) for i in range(80)]
    intervals = []
    for j in range(12):
        s = rng.uniform(0, 560)
        intervals.append((100 + j, rng.choice([1, 2]), ts(s), ts(s + rng.uniform(5, 90))))
    # bin-edge adversaries: interval ending exactly on a bin boundary,
    # points exactly at start / at end (excluded) / 1 µs before end
    intervals.append((200, 1, ts(120), ts(150)))  # 30-min aligned both ends
    points += [(900, 1, ts(120)), (901, 1, ts(150)),
               (902, 1, ts(150) - dt.timedelta(microseconds=1))]

    p = spark.createDataFrame(points, "pid long, k long, t timestamp")
    iv = spark.createDataFrame(intervals, "iid long, k long, s timestamp, e timestamp")

    got = {
        (r.pid, r.iid)
        for r in interval_join(p, iv, "t", "s", "e", keys=["k"], bin_width_s=1800).collect()
    }
    want = {
        (pid, iid)
        for pid, pk, t in points
        for iid, ik, s, e in intervals
        if pk == ik and s <= t < e
    }
    assert got == want
    assert (900, 200) in got and (902, 200) in got and (901, 200) not in got

    left = interval_join(p, iv, "t", "s", "e", keys=["k"], bin_width_s=1800, how="left")
    assert {(r.pid, r.iid) for r in left.collect() if r.iid is not None} == want
    matched_pids = {pid for pid, _ in want}
    assert {r.pid for r in left.collect() if r.iid is None} == (
        {pid for pid, _, _ in points} - matched_pids
    )

    plan = interval_join(p, iv, "t", "s", "e", keys=["k"])._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_interval_join_left_null_attrs_and_duplicate_points(spark):
    """Left interval join must key its matched/unmatched split on row
    IDENTITY, not column equality: a matched point carrying a NULL
    attribute must NOT be re-emitted as unmatched (NULL != NULL under
    plain equality), and identical duplicate point rows must each keep
    their own fate instead of being collapsed to one."""
    import datetime as dt

    from cdc_makanmana_spark.operators.range import interval_join

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    # pid 1: matched, NULL attr (the ADVICE bug: emitted twice before).
    # pid 2/pid 2 twin: identical duplicate rows, both matched.
    # pid 3: unmatched, NULL attr.
    # pid 4/pid 4 twin: identical duplicate rows, both unmatched.
    points = [
        (1, 1, ts(10), None),
        (2, 1, ts(20), "x"),
        (2, 1, ts(20), "x"),
        (3, 1, ts(500), None),
        (4, 1, ts(510), "y"),
        (4, 1, ts(510), "y"),
    ]
    intervals = [(100, 1, ts(0), ts(60))]
    p = spark.createDataFrame(points, "pid long, k long, t timestamp, attr string")
    iv = spark.createDataFrame(intervals, "iid long, k long, s timestamp, e timestamp")

    out = interval_join(p, iv, "t", "s", "e", keys=["k"], bin_width_s=1800, how="left")
    rows = sorted((r.pid, r.iid) for r in out.collect())
    assert rows == [(1, 100), (2, 100), (2, 100), (3, None), (4, None), (4, None)]
    # the NULL-attr matched point appears exactly once, as matched
    assert sum(1 for pid, _ in rows if pid == 1) == 1
    # internal names stay internal
    assert "__pid" not in out.columns and "__bin" not in out.columns

    # reserved-name guard
    import pytest

    bad = p.withColumnRenamed("attr", "__pid")
    with pytest.raises(ValueError, match="__pid"):
        interval_join(bad, iv, "t", "s", "e", keys=["k"], how="left")


def test_asof_join_rejects_colliding_output_names(spark):
    """Default prefix='' with a shared timestamp (or value) column name
    on both sides would silently emit two columns under one name; the
    operator must refuse instead. Reserved __-internal names on the
    left must also be rejected."""
    import pytest

    from cdc_makanmana_spark.operators.asof import asof_join

    right = spark.createDataFrame([(1, 10, 1.0)], "k long, t long, v double")
    left = spark.createDataFrame([(1, 5)], "k long, t long")

    with pytest.raises(ValueError, match="prefix"):
        asof_join(left, right, key_cols=["k"], left_ts="t", right_ts="t",
                  value_cols=["v"])  # default prefix="" -> duplicate 't'

    left_v = spark.createDataFrame([(1, 5, 0.0)], "k long, t long, v double")
    with pytest.raises(ValueError, match="prefix"):
        asof_join(left_v, right, key_cols=["k"], left_ts="t", right_ts="t",
                  value_cols=["v"], prefix="")

    left_bad = spark.createDataFrame([(1, 5, 7)], "k long, t long, __tag int")
    with pytest.raises(ValueError, match="__tag"):
        asof_join(left_bad, right, key_cols=["k"], left_ts="t", right_ts="t",
                  value_cols=["v"], prefix="obs_")

    # a non-colliding prefix still works unchanged
    ok = asof_join(left, right, key_cols=["k"], left_ts="t", right_ts="t",
                   value_cols=["v"], prefix="obs_")
    assert sorted(ok.columns) == ["k", "obs_t", "obs_v", "t"]


def test_simhash_hamming_pairs_matches_bruteforce(spark):
    """Value-grouped + combination-blocked pairing must equal all-pairs
    XOR/bit_count — including identical-signature groups (d=0), cross-
    value pairs at d 1-3, and exclusion beyond max_distance."""
    from cdc_makanmana_spark.operators.dedup import simhash_buckets, simhash_hamming_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),      # exact dup of 1 (d=0 group)
        (3, "alpha beta gamma delta zeta"),          # near 1/2
        (4, "alpha beta gamma delta epsilon eta"),   # near 1/2
        (5, "totally different words everywhere now"),
        (6, "unrelated content about spark shuffles"),
        (7, None),
        (8, "  "),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_hamming_pairs(df, "text", "id", max_distance=3).collect()
    }

    sigs = {r["__id"]: r["simhash"] for r in simhash_buckets(df, "text", "id").collect()}
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want
    # the d=0 group must appear, and blank/NULL docs must not
    assert (1, 2, 0) in got
    assert not any(7 in p[:2] or 8 in p[:2] for p in got)


def test_simhash_hamming_pairs_rejects_bad_distance(spark):
    from cdc_makanmana_spark.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError, match="max_distance"):
        simhash_hamming_pairs(df, "text", "id", max_distance=0)


def test_label_seed_cells_and_assign(spark):
    """Per-label seeds: each label gets its own cells 0..m-1; every
    vector is assigned to the nearest center of ITS OWN label (never a
    foreign label's), ties to the lower cell id."""
    from cdc_makanmana_spark.operators.ann import label_cell_assign, label_seed_cells

    rows = [
        # label 0 clusters near (0,0) and (10,10)
        (1, 0, [0.0, 0.0]),
        (2, 0, [10.0, 10.0]),
        (3, 0, [0.4, 0.1]),
        (4, 0, [9.8, 10.3]),
        # label 1 near (0,0) too: must NOT share cells with label 0
        (5, 1, [0.1, 0.1]),
        (6, 1, [0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    centers = label_seed_cells(df, cells_per_label=2)
    got_centers = {(r["label"], r["__cell"]) for r in centers.collect()}
    assert got_centers == {(0, 0), (0, 1), (1, 0), (1, 1)}

    assigned = {r["vec_id"]: r["__cell"] for r in label_cell_assign(df, centers).collect()}
    # label 0: centers are vecs 1 (cell 0) and 2 (cell 1)
    assert assigned[1] == 0 and assigned[3] == 0     # near (0,0)
    assert assigned[2] == 1 and assigned[4] == 1     # near (10,10)
    # label 1: centers are vecs 5 (cell 0) and 6 (cell 1)
    assert assigned[5] == 0 and assigned[6] == 1


def test_label_cell_assign_tie_breaks_to_lower_cell(spark):
    from cdc_makanmana_spark.operators.ann import label_cell_assign, label_seed_cells

    rows = [  # two identical centers -> every tie must go to cell 0
        (1, 0, [1.0, 1.0]),
        (2, 0, [1.0, 1.0]),
        (3, 0, [5.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    centers = label_seed_cells(df, cells_per_label=2)
    assigned = {r["vec_id"]: r["__cell"] for r in label_cell_assign(df, centers).collect()}
    assert assigned == {1: 0, 2: 0, 3: 0}


def test_asof_join_rejects_self_colliding_aliases(spark):
    from cdc_makanmana_spark.operators.asof import asof_join

    right = spark.createDataFrame([(1, 10, 1.0)], "k long, t long, v double")
    left = spark.createDataFrame([(1, 5)], "k long, ts long")
    # value_cols repeating the right ts name under one prefix
    with pytest.raises(ValueError, match="collide with each other"):
        asof_join(left, right, key_cols=["k"], left_ts="ts", right_ts="t",
                  value_cols=["t", "v"], prefix="r_")
    with pytest.raises(ValueError, match="collide with each other"):
        asof_join(left, right, key_cols=["k"], left_ts="ts", right_ts="t",
                  value_cols=["v", "v"], prefix="r_")


def test_interval_join_left_stable_under_shuffled_input(spark):
    """The left join's anti-join id must be assigned ONCE: with a
    shuffled/duplicated points input, total output rows must equal
    matched + truly-unmatched on every run (a re-evaluated
    nondeterministic id would duplicate or drop points)."""
    from cdc_makanmana_spark.operators.range import interval_join

    pts = (
        spark.range(0, 400)
        .select(
            F.timestamp_micros((F.col("id") % 100) * 60_000_000).alias("ts"),
            (F.col("id") % 3).alias("k"),
            F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("attr"),
        )
        .repartition(7)  # upstream shuffle: partition order not stable
    )
    ivl = spark.createDataFrame(
        [(0, 600, 1800), (1, 0, 1200), (2, 3000, 3600)],
        "k long, s long, e long",
    ).select(
        "k",
        F.timestamp_micros(F.col("s") * 1_000_000).alias("start"),
        F.timestamp_micros(F.col("e") * 1_000_000).alias("end"),
    )
    out = interval_join(pts, ivl, "ts", "start", "end", keys=["k"], how="left",
                        bin_width_s=600)
    n_pts = pts.count()
    inner = interval_join(pts, ivl, "ts", "start", "end", keys=["k"], how="inner",
                          bin_width_s=600).count()
    for _ in range(3):
        total = out.count()
        nulls = out.filter(F.col("start").isNull()).count()
        assert total == n_pts  # every point exactly once (each matches <= 1 interval)
        assert total - nulls == inner


def test_pq_shortlist_rerank_recovers_exact_neighbors(spark, sf_dir):
    """Product quantization (operators/ann.py): the trained m=8/k=16
    codebook's 100-shortlist must hold >= 8/10 of the exact L2 top-10
    (deterministic: seeded k-means on the fixed fixture), and the
    rerank composition returns exact distances in exact order for the
    neighbors it recovers. Seed codebooks must reproduce their own
    declared arithmetic (q71 covers the oracle side)."""
    import numpy as np

    from cdc_makanmana_spark.operators.ann import pq_topk, pq_topk_rerank, pq_train
    from cdc_makanmana_spark.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    qv = [round(((i * 37) % 101) / 101.0, 6) for i in range(64)]
    rows = e.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    d = ((X - np.array(qv)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))
    exact10 = [int(i) for i in ids[order[:10]]]

    books = pq_train(e, m=8, k=16, dim=64)
    short = {r.vec_id for r in pq_topk(e, books, qv, 100).collect()}
    assert len(short & set(exact10)) >= 8

    got = pq_topk_rerank(e, books, qv, k_top=10, shortlist=100).collect()
    got_ids = [r.vec_id for r in got]
    # every returned id must appear in exact order relative to the
    # exact ranking, and distances must be the true L2
    expected = [i for i in exact10 if i in short][: len(got_ids)]
    assert got_ids[: len(expected)] == expected
    by_id = {int(i): float(np.sqrt(dv)) for i, dv in zip(ids, d)}
    for r in got:
        assert abs(r.l2_dist - by_id[r.vec_id]) < 1e-4


def test_scd2_from_events_collapses_and_bounds_intervals(spark):
    """SCD-2 build: same-value runs collapse into one version, version
    numbering restarts per key, valid_to chains to the next version's
    valid_from and is NULL on the current version; exact-ts ties break
    on the sequence column."""
    from cdc_makanmana_spark.operators.scd import scd2_from_events

    ev = spark.createDataFrame(
        [
            (1, 10, 1, "a"), (1, 20, 2, "a"),    # run of 'a' -> one version
            (1, 30, 3, "b"),
            (1, 40, 4, "a"),                      # back to 'a' -> NEW version
            (1, 40, 5, "c"),                      # same ts, higher seq wins order
            (2, 10, 6, "x"),
        ],
        "k long, t long, seq long, v string",
    )
    out = {
        (r.k, r.version): (r.valid_from, r.v, r.valid_to)
        for r in scd2_from_events(
            ev, ["k"], ts_col="t", value_cols=["v"], seq_col="seq"
        ).collect()
    }
    assert out == {
        (1, 1): (10, "a", 30),
        (1, 2): (30, "b", 40),
        (1, 3): (40, "a", 40),
        (1, 4): (40, "c", None),
        (2, 1): (10, "x", None),
    }

    # a key whose FIRST value is NULL must still open version 1 (the
    # eqNullSafe-vs-absent-predecessor edge): NULL, NULL, 'v' -> two
    # versions, the NULL run collapsed
    ev2 = spark.createDataFrame(
        [(9, 10, 1, None), (9, 20, 2, None), (9, 30, 3, "v")],
        "k long, t long, seq long, v string",
    )
    out2 = {
        (r.k, r.version): (r.valid_from, r.v, r.valid_to)
        for r in scd2_from_events(
            ev2, ["k"], ts_col="t", value_cols=["v"], seq_col="seq"
        ).collect()
    }
    assert out2 == {(9, 1): (10, None, 30), (9, 2): (30, "v", None)}


def test_table_diff_types_and_null_patterns(spark):
    """Snapshot diff: inserts/deletes/updates typed correctly,
    unchanged rows absent, and a null-swap between ADJACENT columns is
    detected as an update (the null-skip hash collision the isnull
    interleave exists for)."""
    from cdc_makanmana_spark.operators.scd import table_diff

    old = spark.createDataFrame(
        [(1, "a", "b"), (2, "x", None), (3, "keep", "keep"), (4, "gone", "gone")],
        "k long, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [(1, "a", "B"), (2, None, "x"), (3, "keep", "keep"), (5, "fresh", "row")],
        "k long, c1 string, c2 string",
    )
    got = {r.k: r.op for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "update", 2: "update", 4: "delete", 5: "insert"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="identical schemas"):
        table_diff(old, new.withColumnRenamed("c2", "zz"), ["k"])


def test_cooccurrence_edges_cap_and_weights(spark):
    """Graph construction: pairs within groups, a<b ordering, weights
    count shared groups, and an over-cap group contributes NOTHING."""
    from cdc_makanmana_spark.operators.graph import cooccurrence_edges

    rows = [
        ("g1", 1), ("g1", 2), ("g1", 3),
        ("g2", 1), ("g2", 2),
        ("g2", 2),                    # duplicate membership: no self-pair
        ("g3", 1), ("g3", 2), ("g3", 3), ("g3", 4),   # over cap (3) -> dropped
    ]
    df = spark.createDataFrame(rows, "grp string, uid long")
    got = {
        (r.id_a, r.id_b): r.n_groups
        for r in cooccurrence_edges(df, "uid", ["grp"], max_group=3).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_triangle_counts_known_graph(spark):
    """Triangles on a known graph: K4 minus one edge has two
    triangles; the shared-edge nodes sit in both, a pendant node in
    none (absent from output)."""
    from cdc_makanmana_spark.operators.graph import triangle_counts

    # nodes 1-4: edges of K4 without (3,4); pendant 5 attached to 1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (1, 5)],
        "id_a long, id_b long",
    )
    got = {r.id: r.n_triangles for r in triangle_counts(edges).collect()}
    # triangles: (1,2,3) and (1,2,4)
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_cooccurrence_quantile_gate_tracks_distribution(spark):
    """keep_frac gate: the largest ~5% of groups drop regardless of
    absolute size — the SF-stable form (a fixed cap tuned at one data
    density empties the graph at another)."""
    from cdc_makanmana_spark.operators.graph import cooccurrence_edges

    rows = []
    for gi in range(20):       # 19 small groups of 2, one mega-group of 30
        if gi < 19:
            rows += [(f"g{gi}", gi * 100), (f"g{gi}", gi * 100 + 1)]
        else:
            rows += [("mega", u) for u in range(5000, 5030)]
    df = spark.createDataFrame(rows, "grp string, uid long")
    edges = cooccurrence_edges(df, "uid", ["grp"], keep_frac=0.95).collect()
    ids = {i for r in edges for i in (r.id_a, r.id_b)}
    assert len(edges) == 19 and not any(i >= 5000 for i in ids)  # mega dropped
    # both gates at once is an error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        cooccurrence_edges(df, "uid", ["grp"], max_group=3, keep_frac=0.9)


def test_cooccurrence_quantile_gate_survives_total_ties(spark):
    """Degenerate sizes frame: every group the same size gives every
    row cume_dist 1.0, and a bare `cd <= frac` would drop 100% of
    groups (silently empty graph). The min-size tier is always kept."""
    from cdc_makanmana_spark.operators.graph import cooccurrence_edges

    rows = [(f"g{gi}", gi * 10 + j) for gi in range(6) for j in range(2)]
    df = spark.createDataFrame(rows, "grp string, uid long")
    edges = cooccurrence_edges(df, "uid", ["grp"], keep_frac=0.5).collect()
    assert len(edges) == 6  # all groups tied at size 2 -> all kept


def test_pagerank_known_graph_and_convergence(spark):
    """PageRank on a hand-checkable graph: a star's center outranks its
    leaves; a symmetric path's ends tie; ranks sum to ~1; a Python
    power-iteration reference agrees to 1e-5."""
    from cdc_makanmana_spark.operators.graph import pagerank

    # star: 1 - {2,3,4}, plus edge 2-3 making 2/3 outrank 4
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    got = {r.id: r.rank for r in pagerank(edges).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert got[1] > got[2] == got[3] > got[4]

    # python power-iteration reference on the same undirected graph
    adj = {1: [2, 3, 4], 2: [1, 3], 3: [1, 2], 4: [1]}
    n, d = 4, 0.85
    r = {k: 1.0 / n for k in adj}
    for _ in range(100):
        nr = {
            k: (1 - d) / n + d * sum(r[j] / len(adj[j]) for j in adj if k in adj[j])
            for k in adj
        }
        r = nr
    for k in adj:
        assert abs(got[k] - r[k]) < 1e-5

    # weighted: a heavy edge pulls rank toward its endpoints — on a
    # path 1-2-3 with weight(1,2)=9, weight(2,3)=1, node 1 outranks 3
    wedges = spark.createDataFrame(
        [(1, 2, 9), (2, 3, 1)], "id_a long, id_b long, wt long"
    )
    wr = {r.id: r.rank for r in pagerank(wedges, weight_col="wt").collect()}
    assert abs(sum(wr.values()) - 1.0) < 1e-6
    assert wr[1] > wr[3]
    # unweighted on the same topology ties the endpoints
    ur = {r.id: r.rank for r in pagerank(wedges).collect()}
    assert abs(ur[1] - ur[3]) < 1e-9


def test_pagerank_fixed_iter_matches_python_reference(spark):
    """fixed_iter mode runs EXACTLY k iterations (no convergence
    probe): matches a k-step Python power iteration to 1e-12, differs
    from the converged answer at small k, and rejects k < 1."""
    import pytest

    from cdc_makanmana_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    adj = {1: [2, 3, 4], 2: [1, 3], 3: [1, 2], 4: [1]}
    n, d = 4, 0.85
    r = {k: 1.0 / n for k in adj}
    for _ in range(3):
        r = {
            k: (1 - d) / n + d * sum(r[j] / len(adj[j]) for j in adj if k in adj[j])
            for k in adj
        }
    got = {row.id: row.rank for row in pagerank(edges, fixed_iter=3).collect()}
    for k in adj:
        assert abs(got[k] - r[k]) < 1e-12
    conv = {row.id: row.rank for row in pagerank(edges).collect()}
    assert any(abs(got[k] - conv[k]) > 1e-7 for k in adj)
    with pytest.raises(ValueError, match="fixed_iter"):
        pagerank(edges, fixed_iter=0)


def test_pagerank_personalized_seed_proximity(spark):
    """Personalized PageRank on a path 1-2-3-4-5 with seed {1}: the
    seed's neighborhood outranks the far end (rank decays outward from
    node 2, which collects inflow from BOTH sides and so can outrank
    the degree-1 seed itself); matches a Python reference to 1e-9;
    converged mode agrees; empty seed set raises."""
    import pytest

    from cdc_makanmana_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.rank for r in pagerank(edges, seeds=seeds, fixed_iter=40).collect()}
    assert min(got[1], got[2]) > got[3] > got[4] > got[5] > 0

    # python reference: r' = (1-d)*s + d * M r
    adj = {1: [2], 2: [1, 3], 3: [2, 4], 4: [3, 5], 5: [4]}
    d, s = 0.85, {1: 1.0}
    r = {k: s.get(k, 0.0) for k in adj}
    for _ in range(40):
        r = {
            k: (1 - d) * s.get(k, 0.0)
            + d * sum(r[j] / len(adj[j]) for j in adj if k in adj[j])
            for k in adj
        }
    for k in adj:
        assert abs(got[k] - r[k]) < 1e-9

    # converged mode: compare against a FULLY converged reference (the
    # 40-iter one still carries ~0.85^40 residual, larger than tol)
    r200 = {k: s.get(k, 0.0) for k in adj}
    for _ in range(200):
        r200 = {
            k: (1 - d) * s.get(k, 0.0)
            + d * sum(r200[j] / len(adj[j]) for j in adj if k in adj[j])
            for k in adj
        }
    conv = {row.id: row.rank for row in pagerank(edges, seeds=seeds).collect()}
    for k in adj:
        assert abs(conv[k] - r200[k]) < 1e-4

    with pytest.raises(ValueError, match="non-empty seed"):
        pagerank(edges, seeds=seeds.filter("id = 99"), fixed_iter=2)


def test_top_m_edges_degree_bound_and_survival(spark):
    """Sparsification: every node keeps at most m incident edges from
    its own ranking, an edge survives if EITHER endpoint ranks it, and
    the output is undirected-deduplicated."""
    from cdc_makanmana_spark.operators.graph import top_m_edges

    # hub 1 with weighted spokes to 2..6; spoke nodes see only the hub
    edges = spark.createDataFrame(
        [(1, 2, 50), (1, 3, 40), (1, 4, 30), (1, 5, 20), (1, 6, 10), (5, 6, 5)],
        "id_a long, id_b long, n_groups long",
    )
    kept = {(r.id_a, r.id_b) for r in top_m_edges(edges, m=2).collect()}
    # hub ranks (1,2),(1,3); but every spoke ranks its hub edge too,
    # so all hub edges survive via the spoke side; (5,6) survives via
    # both 5 and 6 (their rank-2)
    assert kept == {(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (5, 6)}
    # m=1: spokes keep only the hub edge; (5,6) is rank-2 for both -> gone
    kept1 = {(r.id_a, r.id_b) for r in top_m_edges(edges, m=1).collect()}
    assert kept1 == {(1, 2), (1, 3), (1, 4), (1, 5), (1, 6)}
    # degree bound: no node appears in more than 2m edges
    from collections import Counter

    deg = Counter()
    for a, b in kept:
        deg[a] += 1
        deg[b] += 1
    assert max(deg.values()) <= 4 or deg[1] == 5  # hub kept via spokes


def test_shingle_rows_matches_word_shingles_contract(spark):
    """The codegen row form (shingle_rows) and the HOF array form
    (word_shingles) must agree on the per-doc DISTINCT shingle set —
    including the short-doc floor (a doc with fewer than n words
    yields its full text as the single shingle) — and the row form
    must drop NULL/blank texts like the ladder's uniform policy."""
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.operators.dedup import shingle_rows, word_shingles

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "two words"),               # shorter than n=3 -> one shingle
            (3, "one"),                     # single word
            (4, "dup dup dup dup"),         # within-doc duplicate shingles
            (5, "  spaced\tout\n tokens here  "),  # whitespace normalization
            (6, None),                      # dropped
            (7, "   "),                     # blank -> dropped
        ],
        "id long, text string",
    )
    rows = (
        shingle_rows(docs, "text", ["id"], 3)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("__s")).alias("got"))
    )
    arrays = docs.select(
        "id", F.sort_array(word_shingles(F.col("text"), 3)).alias("want")
    )
    joined = {r.id: (r.got, r.want) for r in rows.join(arrays, "id").collect()}
    assert set(joined) == {1, 2, 3, 4, 5}  # 6/7 dropped by blank policy
    for i, (got, want) in joined.items():
        assert got == want, f"doc {i}: {got} != {want}"
    # short docs: exactly the full normalized text as the one shingle
    assert joined[2][0] == ["two words"]
    assert joined[3][0] == ["one"]
    # occurrence form keeps duplicates (callers distinct on demand)
    occ = shingle_rows(docs.filter("id = 4"), "text", ["id"], 3).count()
    assert occ == 2 and joined[4][0] == ["dup dup dup"]


def test_connected_components_converges_at_the_diameter_bound(spark):
    """Regression: the batched (2-step) convergence check must not
    tighten the usable max_iter bound — a chain needing exactly
    max_iter changing steps converges (detection batches are allowed
    beyond the bound), while one needing more still raises."""
    import pytest

    from cdc_makanmana_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    # diameter-3 chain: labels change for 3 steps; max_iter=4 accepted
    # these on the per-step check and must keep doing so
    got = {r.id: r.component for r in connected_components(chain, max_iter=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    # ...and max_iter=3 (exactly the changing-step count) also works
    got3 = {r.id: r.component for r in connected_components(chain, max_iter=3).collect()}
    assert got3 == {1: 1, 2: 1, 3: 1, 4: 1}
    # a 10-chain needs 9 changing steps; max_iter=4 must still refuse
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(long_chain, max_iter=4)


def test_release_materialized_drops_checkpoint_blocks(spark):
    """localCheckpoint blocks are invisible to clearCache and survive
    GC across the py4j boundary; release_materialized is the explicit
    job-boundary drop. It must empty the block store and leave the
    session fully usable for new queries."""
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.operators.dedup import materialize as _materialize
    from cdc_makanmana_spark.session import release_materialized

    df = _materialize(spark.range(1000).withColumn("k", F.col("id") % 7))
    assert df.count() == 1000
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(stored) >= 1  # the checkpoint is holding blocks
    spark.catalog.clearCache()  # does NOT drop checkpoint blocks
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) >= 1
    released = release_materialized(spark)
    assert released >= 1
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
    # the session keeps working for fresh plans
    assert spark.range(10).count() == 10


def test_exact_group_percentiles_bit_equal_to_builtin(spark):
    """The approx-bracket + exact-within-band operator must return
    BIT-identical values to Spark's exact ``percentile`` aggregate
    (same position arithmetic, same weighted-blend interpolation) —
    including edge percentages 0/1, duplicate runs, NULLs, and groups
    on both sides of the accuracy cutover (n < accuracy serves the
    whole group as the band; n >= accuracy exercises the GK bracket)."""
    import random

    from pyspark.sql import functions as F

    from cdc_makanmana_spark.operators.percentile import exact_group_percentiles

    def ref(df, ps):
        pe = F.expr(f"percentile(v, array({', '.join(map(repr, ps))}))")
        return {
            (r.k, float(p)): (r.out[i] if r.out is not None else None)
            for r in df.groupBy("k").agg(pe.alias("out")).collect()
            for i, p in enumerate(ps)
        }

    def mine(df, ps, acc):
        return {
            (r.k, r.p): r.value
            for r in exact_group_percentiles(df, ["k"], "v", ps, accuracy=acc).collect()
        }

    random.seed(11)
    tiny = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 5.0), ("c", 1.0), ("c", 9.0),
         ("d", None), ("d", 3.0), ("d", 4.0), ("allnull", None), ("allnull", None),
         # NULL group KEY: GROUP BY treats it as a real group; every
         # internal re-join must be null-safe or the group's value goes
         # silently NULL (r6 review find)
         (None, 6.0), (None, 8.0)],
        "k string, v double",
    )
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    # the all-NULL group must SURFACE with NULL values (builtin
    # contract), not vanish and shrink downstream joins
    got = mine(tiny, ps, 10_000)
    assert all(got[("allnull", p)] is None for p in ps)
    assert ref(tiny, ps) == got

    # duplicate-heavy groups straddling the cutover at accuracy=500
    big = spark.createDataFrame(
        [("g%d" % (i % 3), float(random.randint(0, 400)) / 7.0) for i in range(30_000)]
        + [("tiny", float(i)) for i in range(40)],
        "k string, v double",
    ).repartition(8)
    ps = [0.1, 0.5, 0.9, 0.99]
    assert ref(big, ps) == mine(big, ps, 500)


def test_exact_group_percentiles_rejects_bad_percentages(spark):
    import pytest

    from cdc_makanmana_spark.operators.percentile import exact_group_percentiles

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        exact_group_percentiles(df, ["k"], "v", [])
    with pytest.raises(ValueError):
        exact_group_percentiles(df, ["k"], "v", [1.5])


def test_q34_keeps_groups_whose_suppkeys_are_all_null(spark, tmp_path):
    """q34's decomposition joins three parallel aggregates back onto
    the group frame; the supplier-count leg filters NULL l_suppkey, so
    a group whose EVERY l_suppkey is NULL has no row there. The builtin
    COUNT(DISTINCT) contract emits that group with n_suppliers = 0 —
    the joins must be LEFT from the percentile frame (which keeps all
    groups) or the group silently vanishes (r5 advisor find)."""
    from cdc_makanmana_spark.plans.queries import QUERIES

    rows = [
        ("A", 10.0, 1, 5.0),
        ("A", 20.0, 2, 6.0),
        ("N", 30.0, None, 7.0),  # all-NULL suppkey group
        ("N", 40.0, None, 8.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, "
        "l_suppkey int, l_quantity double",
    )
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r.l_returnflag: r
        for r in QUERIES["q34_group_stats"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {"A", "N"}
    assert out["N"].n_suppliers == 0
    assert out["A"].n_suppliers == 2
    assert out["N"].median_price == 35.0


def test_q34_null_returnflag_group_joins_null_safe(spark, tmp_path):
    """SQL GROUP BY treats NULL as a real group; q34's decomposed legs
    re-join on the group key, so the NULL-flag group must re-join its
    OWN sup/sd rows (null-safe equality), not fabricate n_suppliers=0
    and sd_qty=NULL (r6 review find)."""
    from cdc_makanmana_spark.plans.queries import QUERIES

    rows = [
        (None, 10.0, 1, 5.0),
        (None, 20.0, 2, 7.0),
        ("A", 30.0, 3, 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, "
        "l_suppkey int, l_quantity double",
    )
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r.l_returnflag: r
        for r in QUERIES["q34_group_stats"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {None, "A"}
    assert out[None].n_suppliers == 2
    assert out[None].sd_qty is not None  # stddev of (5, 7) ≈ 1.414214
    assert out[None].median_price == 15.0


def test_embedding_cross_hits_recall_and_cap(spark):
    """q109's cross-set operator: planted benchmark near-twins in the
    corpus must be flagged with banded recall >= 0.95 (identical
    construction to the single-set banded test), cross hits never pair
    corpus with corpus, and the per-side hot-bucket cap drops a
    boilerplate mega-bucket instead of enumerating it."""
    import random

    from cdc_makanmana_spark.operators.ann import embedding_cross_hits

    rng = random.Random(47)
    dim = 16
    bench_rows, corpus_rows, planted = [], [], []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        bench_rows.append((i, v))
        twin = [x + rng.uniform(-0.16, 0.16) for x in v]
        corpus_rows.append((1000 + i, twin))
        planted.append((1000 + i, i))
    # corpus distractors far from any bench vector are simply never hits
    for i in range(40):
        corpus_rows.append((2000 + i, [rng.uniform(-1, 1) for _ in range(dim)]))
    bench = spark.createDataFrame(bench_rows, "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")

    hits = {
        (r.corpus_id, r.bench_id): r.cosine_sim
        for r in embedding_cross_hits(
            corpus, bench, threshold=0.95, bits=8, dim=dim, bands=8, seed=7
        ).collect()
    }
    # truth = twins whose cosine really clears the threshold (brute force)
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    bvec = dict(bench_rows)
    cvec = dict(corpus_rows)
    truth = {
        (c, b) for c, b in planted if round(cos(cvec[c], bvec[b]), 6) >= 0.95
    }
    assert len(truth) >= 15
    assert len(truth & set(hits)) / len(truth) >= 0.95
    assert all(c >= 1000 and b < 1000 for c, b in hits)  # strictly cross-set

    # cap: a mega-bucket of identical bench vectors is dropped entirely
    boiler = [[1.0] * dim] * 100
    bench_hot = spark.createDataFrame(
        [(i, v) for i, v in enumerate(boiler)], "vec_id long, embedding array<double>"
    )
    corpus_one = spark.createDataFrame(
        [(9000, [1.0] * dim)], "vec_id long, embedding array<double>"
    )
    capped = embedding_cross_hits(
        corpus_one, bench_hot, threshold=0.5, bits=8, dim=dim, bands=4,
        seed=7, max_bucket=64,
    ).collect()
    assert capped == []  # identical-vector bucket (100 > cap) dropped

    # dim mismatch between sides must raise, not null-pad into silently
    # empty hits (r6 advisor find): stamped bench metadata disagrees
    # with the corpus-resolved dim
    import pytest as _pytest

    bench_short = spark.createDataFrame(
        [(0, [1.0] * (dim // 2))], "vec_id long, embedding array<double>"
    ).withMetadata("embedding", {"dim": dim // 2})
    with _pytest.raises(ValueError, match="dim mismatch"):
        embedding_cross_hits(corpus_one, bench_short, bits=8, dim=dim, bands=4, seed=7)
