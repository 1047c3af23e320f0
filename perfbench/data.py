"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, and the program under test receives only
the files written here. Generation uses NumPy and PyArrow, never Spark,
so it costs the same whatever the engine does.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- merchant-shaped table (serve) ---------------------------------------

# Names: two proprietor tokens built from consonant-vowel letters (real
# merchant names share few specific tokens, which keeps the halal
# entity-resolution join's token blocking selective), then on a tenth of
# rows one of the engine's cuisine or halal keywords, so search, cuisine
# classification and the halal veto fire, then a generic shop word.
CONSONANTS = np.array(list("bcdfghjklmnprst"))
VOWELS = np.array(list("aeiou"))
FOOD_WORDS = [
    "biryani", "noodle", "satay", "sushi", "ramen", "kimchi", "pho", "burger",
    "pasta", "seafood", "crab", "prata", "kopi", "bakery", "dim sum",
    "nasi lemak", "char siu", "bak kut teh", "curry", "grill", "salad",
    "halal", "warung", "mamak", "kebab", "pork", "tea", "dessert",
]
# generic words only (operators.similarity.GENERIC_WORDS): a specific
# word on every name would put most pairs in one blocking key
SHOP_WORDS = ["House", "Stall", "Kitchen", "Cafe", "Corner", "Restaurant", "Delights"]
STREETS = ["Changi Rd", "Orchard Rd", "Bedok Ave", "Jurong St", "Tampines Ave",
           "Serangoon Rd", "Geylang Rd", "Yishun Ring"]
CATEGORIES = [
    "HAWKER_HEARTLAND_MERCHANT", "HAWKER_HEARTLAND_MERCHANT",
    "HAWKER_HEARTLAND_MERCHANT", "RESTAURANT", "RESTAURANT", "SUPERMARKET",
]
# Singapore bounding box (reference: locationUtils.ts postal centres).
LAT0, LAT1 = 1.24, 1.47
LON0, LON1 = 103.62, 104.00

MERCHANT_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("name", pa.string()),
        ("address", pa.string()),
        ("postalCode", pa.string()),
        ("type", pa.string()),
        ("LAT", pa.float64()),
        ("LON", pa.float64()),
        ("businessCategory", pa.string()),
        (
            "filters",
            pa.struct([("secondary", pa.struct([("budgetmeal", pa.bool_())]))]),
        ),
    ]
)


def postal_areas(seed: int, n_areas: int) -> dict[str, np.ndarray]:
    """Postal-area centres: 6-digit code, lat, lon (the geocode dim)."""
    rng = np.random.default_rng([seed, 1])
    codes = rng.choice(900_000, size=n_areas, replace=False) + 100_000
    return {
        "postal": np.array([f"{c:06d}" for c in codes]),
        "lat": np.round(rng.uniform(LAT0, LAT1, n_areas), 6),
        "lon": np.round(rng.uniform(LON0, LON1, n_areas), 6),
    }


def merchant_rows(seed: int, ids: np.ndarray, areas: dict, salt: int) -> pa.Table:
    """Merchant rows for integer ids; ``salt`` varies the payload so a
    change set can rewrite an existing key."""
    rng = np.random.default_rng([seed, 2, salt])
    n = len(ids)
    fw = np.array(FOOD_WORDS + [""] * (9 * len(FOOD_WORDS)))
    sw = np.array(SHOP_WORDS)
    a = rng.integers(0, len(areas["postal"]), n)
    c = CONSONANTS[rng.integers(0, len(CONSONANTS), (n, 2, 3))]
    v = VOWELS[rng.integers(0, len(VOWELS), (n, 2, 2))]
    names = [
        " ".join(
            w
            for w in (
                "".join((ci[0, 0], vi[0, 0], ci[0, 1], vi[0, 1], ci[0, 2])).title(),
                "".join((ci[1, 0], vi[1, 0], ci[1, 1], vi[1, 1], ci[1, 2])).title(),
                f.title(),
                s,
            )
            if w
        )
        for ci, vi, f, s in zip(
            c, v, fw[rng.integers(0, len(fw), n)], sw[rng.integers(0, len(sw), n)]
        )
    ]
    streets = np.array(STREETS)[rng.integers(0, len(STREETS), n)]
    numbers = rng.integers(1, 999, n)
    budget = rng.random(n) < 0.3
    cats = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)]
    return pa.table(
        {
            "id": [f"m{i:07d}" for i in ids],
            "name": names,
            "address": [f"{k} {s}" for k, s in zip(numbers, streets)],
            "postalCode": areas["postal"][a],
            "type": cats,
            # jitter of ~1.5 km around the area centre
            "LAT": np.round(areas["lat"][a] + rng.normal(0, 0.012, n), 6),
            "LON": np.round(areas["lon"][a] + rng.normal(0, 0.012, n), 6),
            "businessCategory": np.where(cats == "SUPERMARKET", "retail", "food"),
            "filters": [{"secondary": {"budgetmeal": bool(b)}} for b in budget],
        },
        schema=MERCHANT_SCHEMA,
    )


def halal_establishments(seed: int, merchants: pa.Table, share: float = 0.05) -> pa.Table:
    """Certified-establishment dim: a seeded share of merchants, half with
    the exact name (the exact tier), half with one letter of a proprietor
    token changed (the fuzzy tier)."""
    rng = np.random.default_rng([seed, 3])
    n = merchants.num_rows
    pick = np.sort(rng.choice(n, size=max(1, int(n * share)), replace=False))
    names = merchants.column("name").to_pylist()
    postals = merchants.column("postalCode").to_pylist()
    out_names = []
    for j, i in enumerate(pick):
        nm = names[i]
        if j % 2:
            words = nm.split(" ")
            words[1] = words[1][:-1] + "x"  # "x" is not in CONSONANTS
            nm = " ".join(words)
        out_names.append(nm)
    return pa.table(
        {
            "establishment_id": [f"h{j:06d}" for j in range(len(pick))],
            "name": out_names,
            "postal": [postals[i] for i in pick],
        }
    )


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---- change sets (serve's refresh) ---------------------------------------

CHANGE_SCHEMA = pa.schema(
    [("op", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]
    + list(MERCHANT_SCHEMA)
)
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


def change_set(
    seed: int, k: int, n_keys: int, size: int, areas: dict, delete_share: float = 0.05
) -> pa.Table:
    """The k-th change set: ``size`` distinct keys drawn from the served
    key space, ~``delete_share`` of them tombstones. Event time grows
    with ``k`` so later change sets win the argmax."""
    rng = np.random.default_rng([seed, 4, k])
    keys = np.sort(rng.choice(n_keys, size=size, replace=False))
    rows = merchant_rows(seed, keys, areas, salt=1000 + k)
    is_del = rng.random(size) < delete_share
    ts = [EPOCH + timedelta(seconds=k * 60 + int(s)) for s in rng.integers(0, 60, size)]
    cols = {"op": np.where(is_del, "delete", "upsert"), "ts": ts}
    cols.update({c: rows.column(c) for c in rows.column_names})
    return pa.table(cols, schema=CHANGE_SCHEMA)


# ---- TPC-H-shaped relational tables (batch) ----------------------------

PART_WORDS = [
    "large", "small", "hot", "cold", "blue", "red", "old", "new", "green",
    "ring", "bolt", "plate", "gear", "nut", "pipe", "spring", "wheel",
]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join the customer"
).split()

# Row counts at sf0.1 (the relational fixture's shape); scaled by sf/0.1.
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _ts(days_from: datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def relational_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` with the fixture's schema
    and value domains."""
    rng = np.random.default_rng([seed, 5])
    n = {t: max(10, int(round(c * sf / 0.1))) for t, c in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(1000, 10000, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(1000, 10000, ns), 2),
        }
    )
    np_ = n["part"]
    pw = np.array(PART_WORDS)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(pw[rng.integers(0, len(pw), np_)], pw[rng.integers(0, len(pw), np_)])
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": _ts(datetime(1995, 1, 1), odays),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nlines = rng.integers(1, 8, no)
    lo = np.repeat(np.arange(no), nlines)
    nl = len(lo)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines]) if no else np.array([])
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lo, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 104900, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(datetime(1995, 1, 1), odays[lo] + rng.integers(1, 96, nl)),
        }
    )
    ne = n["events"]
    ets = np.datetime64(datetime(2024, 1, 1), "us") + rng.integers(
        0, 30 * 86400 * 1_000_000, ne
    ).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.uniform(0, 560, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    n_syn = max(nd // 5, 100)
    dw = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i % 50 == 49 and i > 0:
            # planted near-duplicate: an earlier doc plus one salt word
            base = texts[max(0, i - 1 - int(rng.integers(0, 40)))]
            texts.append(f"{base} {dw[rng.integers(0, len(dw))]}")
            continue
        nw = int(rng.integers(15, 81))
        fix = dw[rng.integers(0, len(dw), nw)]
        syn = [f"w{k}" for k in rng.integers(0, n_syn, nw)]
        mix = rng.random(nw) < 0.5
        texts.append(" ".join(f if m else s for f, s, m in zip(fix, syn, mix)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "en", "en", "zh", "es", "fr", "de"])[
                rng.integers(0, 7, nd)
            ],
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.uniform(-0.75, 0.75, (10, 64))
    vecs = (centroids[labels] + rng.uniform(-0.5, 0.5, (nv, 64))).astype("float32")
    dup = np.arange(nv) % 400 == 399
    vecs[dup] = vecs[np.nonzero(dup)[0] - 1] + np.float32(0.005)
    labels[dup] = labels[np.nonzero(dup)[0] - 1]
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_relational(seed: int, sf: float, out_dir: str) -> str:
    for name, table in relational_tables(seed, sf).items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
