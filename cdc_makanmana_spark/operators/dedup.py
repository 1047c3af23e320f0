"""Deduplication operators over document tables (north-star surface).

Four tiers, cheapest first — the standard large-corpus dedup ladder:

- exact:        md5 fingerprint of normalized text → groupBy. One
                shuffle on a short hash key; no skew (hashes uniform).
- n-gram Jaccard: shingle → explode → equi-join on shingle (blocking)
                → per-pair intersection counts → Jaccard. Never a
                cross join; hot shingles capped by document frequency.
- MinHash+LSH:  k permutations via seeded xxhash64 → band buckets →
                pairs only within a bucket.
- SimHash:      64-bit sign-aggregated token hashes; Hamming buckets.

The fuzzy-match kernel these generalize is the reference's
entity-resolution join (src/services/halalService.ts:119-176); dedup is
the self-join special case (SURVEY.md §2.4 closing note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_makanmana_spark.functions.text import doc_fingerprint
from cdc_makanmana_spark.operators.similarity import argmax_per_group


def _norm_text(col):
    # Explicit whitespace class, not \s: Java's \s includes vertical
    # tab (\x0B) while DuckDB/RE2's does not, so the oracle SQL pins
    # the same class and both engines tokenize identically on exotic
    # whitespace (ADVICE r2).
    return F.trim(F.regexp_replace(F.lower(col), r"[ \t\n\r\f\x0B]+", " "))


def _drop_blank_text(df: DataFrame, text_col: str) -> DataFrame:
    """Operator-level NULL/empty-text policy (round-3 verdict item #4):
    every near-dup ladder operator drops rows whose text is NULL or
    whitespace-only BEFORE tokenizing. Without this, each engine
    invents its own semantics for textless docs (Spark's explode_outer
    hashes a NULL token / an empty split yields the '' token — so two
    empty docs would pair at similarity 1.0) and every declared query
    has to re-patch the divergence against its SQL oracle. A doc with
    no text has no content to be a near-duplicate OF; it simply does
    not participate. Oracle SQL replays the same predicate:
    ``text IS NOT NULL AND trim(regexp_replace(lower(text),
    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) <> ''``.
    """
    c = F.col(text_col)
    return df.filter(c.isNotNull() & (_norm_text(c) != ""))


def _spread(df: DataFrame) -> DataFrame:
    """Widen a too-narrow input so the expensive shingle/tokenize
    explode runs on every core. A single small parquet file arrives as
    ONE partition and the whole text-processing stage runs
    single-threaded (measured 2x end-to-end on q24). At cluster scale
    the scan already yields >= defaultParallelism splits and this is a
    no-op — the repartition only fires on narrow inputs, where the
    shuffled text volume is by construction small.

    The narrowness probe is METADATA-only (no ``.rdd`` conversion,
    which would add a Python-serialization plan and an analysis pass):
    estimated scan splits = Σ ceil(file_size / maxPartitionBytes) over
    ``df.inputFiles()``, statted through the Hadoop FS API. Non-file
    inputs (createDataFrame locals — already sliced to
    defaultParallelism) pass through untouched.
    """
    from cdc_makanmana_spark import fs

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    try:
        max_pb = fs.byte_string_as_bytes(
            spark, spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        est_splits = sum(
            max(1, -(-fs.file_size(spark, f) // max_pb)) for f in files
        )
    except Exception:
        est_splits = len(files)
    if est_splits < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage on a small, multiply-consumed intermediate.

    EAGER: this submits the producing job at CALL time (plan
    construction), not at the caller's first action — a function that
    otherwise returns a lazy DataFrame becomes eager the moment it
    wraps an intermediate in this. Callers across the operator modules
    (dedup, ann, corpus, graph, range, multimodal) import it for
    exactly that trade; release the blocks with
    ``session.release_materialized`` at job boundaries.

    ``localCheckpoint`` stores the partitions on executors and truncates
    the plan, so N downstream consumers read it instead of re-running
    the (text-heavy) producer N times. Measured on q24 at sf0.1:
    4.8 s vs 13.1 s recompute vs 10.0 s persist() (persist keeps the
    lineage and pays async cache-block churn). On a real cluster a
    lost executor forfeits a localCheckpoint (no lineage to recompute)
    — at 100 TB this intermediate becomes a checkpoint TABLE; the
    call sites are the places that table would go."""
    return df.localCheckpoint(eager=True)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative row (min id) per exact-content group.

    md5-of-normalized-text groupBy: one hash-partitioned shuffle,
    map-side partial aggregation, uniform keys — the 100 TB-safe exact
    dedup. Returns the surviving rows.
    """
    fp = df.withColumn("__fp", doc_fingerprint(text_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [id_col, "__fp"], "inner").drop("__fp")


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 3,
    block_prefix: int = 4,
    threshold: float = 0.5,
    reverse_key: bool = False,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-duplicate candidates: sort docs
    by normalized text within a prefix block, compare each doc to its
    next ``window`` neighbors in sort order, keep pairs whose distinct-
    token Jaccard clears ``threshold``. The classic entity-resolution
    blocking family the ladder otherwise lacks (Hernández-Stolfo
    merge/purge): shingle/minhash blocking keys on CONTENT OVERLAP,
    SNM keys on SORT ADJACENCY — it catches near-dups whose shared
    prefix dominates (templated boilerplate, versioned titles) at
    O(N·w) pairs with no inverted index at all.

    Scale shape: the sort is per prefix-block (a block-partitioned
    window, never a global single-partition sort), and neighbors come
    from ``lead()`` expressions — ZERO joins, so no block-quadratic
    intermediate (a block self-join on rn-ranges would materialize
    |block|² rows before its range filter). Misses: pairs straddling a
    block boundary, and near-dups whose difference lands in the first
    ``block_prefix`` chars — the standard SNM answer is multiple
    passes with different keys (compose with the ladder's other tiers,
    e.g. q23/q24, exactly as multi-pass SNM prescribes).
    ``reverse_key=True`` is the canonical second pass: block and sort
    on the REVERSED normalized text, catching suffix-templated
    near-dups whose difference sits in the forward prefix (similarity
    is still token Jaccard of the forward text). Blank/NULL
    text follows the ladder-wide drop policy.

    Reference parity: the fuzzy name-matching surface
    (/root/reference/src/services/halalService.ts similarity tiers),
    re-expressed as a scale-safe candidate generator — north-star
    extension like the rest of the ladder."""
    from pyspark.sql import Window

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    d = (
        _drop_blank_text(df, text_col)
        .select(
            F.col(id_col).alias("__id"),
            _norm_text(F.col(text_col)).alias("__norm"),
        )
        .withColumn(
            "__key", F.reverse("__norm") if reverse_key else F.col("__norm")
        )
        .withColumn("__blk", F.substring("__key", 1, block_prefix))
        .withColumn("__toks", F.array_distinct(F.split("__norm", " ")))
    )
    win = Window.partitionBy("__blk").orderBy("__key", "__id")
    # window exprs first (generators can't host them), explode second
    led = d.select(
        "__id",
        "__toks",
        F.array(
            *[
                F.struct(
                    F.lead("__id", i).over(win).alias("id_b"),
                    F.lead("__toks", i).over(win).alias("toks_b"),
                )
                for i in range(1, window + 1)
            ]
        ).alias("__leads"),
    )
    nb = (
        led.select("__id", "__toks", F.explode("__leads").alias("__nb"))
        .filter(F.col("__nb.id_b").isNotNull())
    )
    jac = F.round(
        F.size(F.array_intersect("__toks", F.col("__nb.toks_b"))).cast("double")
        / F.size(F.array_union("__toks", F.col("__nb.toks_b"))),
        6,
    )
    return (
        nb.select(
            F.least("__id", F.col("__nb.id_b")).alias("id_a"),
            F.greatest("__id", F.col("__nb.id_b")).alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of normalized text (ARRAY
    expression). The ``transform`` lambda is a higher-order function —
    interpreted per element, outside whole-stage codegen — so this
    form is for consumers that genuinely need the per-doc array (the
    exact-Jaccard reranks, the incremental index): compute it AFTER
    pruning to candidate docs, never over the full corpus. Corpus-wide
    shingle production goes through ``shingle_rows`` (codegen, ~8×
    faster measured at sf0.1: 4.3 s → 0.55 s for the same explode)."""
    words = F.split(_norm_text(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    )


def shingle_rows(
    df: DataFrame,
    text_col: str,
    carry: list[str],
    n: int = 3,
    with_pos: bool = False,
) -> DataFrame:
    """Word n-gram shingles as ROWS: one output row per shingle
    OCCURRENCE (within-doc duplicates are NOT dropped — callers that
    need per-doc distinct sets hash to 8 bytes and ``distinct()``),
    carrying ``carry`` columns plus the shingle string ``__s``.
    ``with_pos=True`` additionally emits the 0-based gram position
    ``__idx`` and the doc's word count ``__nw`` (the winnowing
    window-min consumer's inputs) so positional consumers share this
    single formulation of the short-doc-floor / NULL-safe-get
    contract.

    This is the codegen formulation of ``word_shingles``+explode: the
    words array is built once, an index sequence 1..max(len-n+1, 1) is
    exploded, and each shingle is assembled with ``concat_ws`` over
    NULL-safe ``get`` lookups (out-of-range → NULL, skipped by
    concat_ws — so a doc shorter than ``n`` words yields its full text
    as the single shingle, same as the array form's floored slice).
    Every expression stays inside whole-stage codegen and the plan is
    shuffle-free — at 100 TB shingle generation is pure map work;
    measured at sf0.1 the HOF array form cost 4.3 s where this costs
    0.55 s for an identical shingle set.

    Blank/NULL texts are dropped here (``_drop_blank_text``), making
    the NULL-text policy uniform across the ladder.
    """
    w = _drop_blank_text(df, text_col).select(
        *carry, F.split(_norm_text(F.col(text_col)), " ").alias("__w")
    )
    idx = w.select(
        *carry,
        *([F.size("__w").alias("__nw")] if with_pos else []),
        "__w",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - (n - 1), F.lit(1)))
        ).alias("__i"),
    )
    # F.get is 0-based and returns NULL out of range regardless of ANSI
    # mode (element_at would raise under ANSI)
    return idx.select(
        *carry,
        *([F.col("__nw"), (F.col("__i") - 1).alias("__idx")] if with_pos else []),
        F.concat_ws(
            " ", *[F.get("__w", F.col("__i") + k - 1) for k in range(n)]
        ).alias("__s"),
    )


def _pairs_within_sorted(ids_col: str):
    """Explode all (i < j) element pairs of a sorted id array column —
    the inverted-index pair-expansion expression shared by the blocked
    dedup operators."""
    return F.explode(
        F.flatten(
            F.transform(
                F.col(ids_col),
                lambda x, i: F.transform(
                    F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Blocked self-join: explode shingles, equi-join on the shingle (so
    only documents sharing at least one shingle ever meet), count the
    intersection per pair, and compute
    ``J = |A∩B| / (|A| + |B| - |A∩B|)``.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs — the skew guard at scale (a boilerplate shingle shared by
    10^6 docs would otherwise create a 10^12-row hot key).

    Plan shape: shingles are 64-bit-hashed immediately (the shuffle
    moves 8-byte keys, never shingle strings), and candidate pairs are
    generated from per-shingle doc-id buckets (inverted-index pair
    expansion) instead of a second shuffle join — after the df-cap a
    bucket holds <= max_shingle_df ids, so the expansion is bounded.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # (id, hash) feeds four consumers (freq count, cap semi-join,
    # per-doc sizes, bucket build) → materialize once instead of
    # re-running the shingle explode per consumer (see materialize).
    # Row-form generation (shingle_rows, codegen) emits OCCURRENCES;
    # the per-doc-distinct set every count below assumes is restored by
    # a distinct on the (8-byte id, 8-byte hash) pair — one narrow
    # shuffle replacing the interpreted per-doc transform+array_distinct.
    # Wall-clock at sf0.1 is a wash (_spread already parallelized the
    # HOF 32×) but the codegen form does ~8× less CPU work (0.55 s vs
    # 4.3 s single-threaded) — the number that is the bill at 100 TB —
    # and the distinct also shrinks the materialized frame (~20% fewer
    # rows on the fixture).
    sh = materialize(
        shingle_rows(
            _spread(df.select(F.col(id_col).alias("__id"), text_col)),
            text_col,
            ["__id"],
            n,
        )
        .select("__id", F.xxhash64("__s").alias("__sh"))
        .distinct()
    )
    if max_shingle_df is not None:
        # Pre-count + semi-join BEFORE collecting buckets, so a hot
        # shingle never materializes its full id list anywhere.
        freq = sh.groupBy("__sh").count().filter(F.col("count") <= max_shingle_df)
        sh = sh.join(freq.select("__sh"), "__sh", "left_semi")

    sizes = sh.groupBy("__id").agg(F.count("*").alias("__n"))

    buckets = sh.groupBy("__sh").agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
    # All (i < j) pairs within a bucket; shared-shingle count per pair.
    pair = _pairs_within_sorted("__ids")
    common = (
        buckets.select(pair.alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__common"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__common").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document: for seed i, min over shingles of
    ``xxhash64(shingle, i)``.

    Shape: explode shingles once, then ``num_hashes`` codegen'd
    min-aggregates in a single groupBy. The obvious no-shuffle
    formulation (``array_min(transform(shingles, ...))`` × 32) is ~40×
    slower — higher-order-function lambdas are interpreted per row AND
    the shingle-array subexpression is rebuilt for every one of the 32
    transforms (measured: 187 s vs 5 s at sf0.1). The explode pays one
    map-side-combined shuffle of (id, 32 longs) and keeps every hash
    evaluation inside whole-stage codegen.

    Hash family: the variable-length shingle STRING is hashed ONCE to
    a long; the ``num_hashes`` family members are seeded xxhash64 over
    that 8-byte long — a standard two-level construction that stops
    re-walking the string per hash function. At this fixture's short
    shingles it's a modest win (~7% on q23 end-to-end — the 32
    min-aggregates dominate); the saving scales with shingle byte
    length. Candidate recall is statistically unchanged and the
    declared q23 reranks with EXACT Jaccard, so results are
    hash-identical either way.
    """
    # row-form shingles (codegen; see shingle_rows): within-doc
    # duplicate occurrences are harmless under the min-aggregates
    # (min over a multiset equals min over its set), so no distinct
    # is needed anywhere on this path
    sh = shingle_rows(
        df.select(F.col(id_col).alias("__id"), text_col), text_col, ["__id"], shingle_n
    ).select("__id", F.xxhash64("__s").alias("__h0"))
    agg = sh.groupBy("__id").agg(
        *[
            F.expr(f"min(xxhash64(`__h0`, {i}))").alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        "__id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("signature")
    )


def _band_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature table (``__id``, ``signature``) into LSH band
    buckets: one row per (doc, band) with ``bucket`` = hash of that
    band's signature slice. Docs sharing any (band, bucket) are LSH
    candidates."""
    band_structs = ",".join(
        "named_struct('band', {b}, 'bucket', xxhash64({args}))".format(
            b=b,
            args=",".join(
                f"`signature`[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "__id",
        "signature",
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select("__id", "signature", "bb.band", "bb.bucket")


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """LSH-banded MinHash near-dup pairs.

    Signature → split into ``bands`` bands of ``num_hashes/bands`` rows
    → bucket key = hash(band values) → equi-join on (band, bucket) →
    candidate pairs → estimate Jaccard as the fraction of agreeing
    signature positions → filter.

    The only shuffles are the bucket equi-join and the final distinct —
    never O(N²). Returns (id_a, id_b, est_jaccard).
    """
    rows_per_band = num_hashes // bands
    # The banded table feeds both sides of the self-join → materialize
    # the signatures once instead of running the shingle+hash pipeline
    # twice (see materialize).
    sigs = materialize(
        minhash_signatures(_spread(df), text_col, id_col, num_hashes, shingle_n)
    )
    banded = _band_buckets(sigs, bands, rows_per_band)

    a = banded.select(
        F.col("__id").alias("id_a"), F.col("signature").alias("sig_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("__id").alias("id_b"), F.col("signature").alias("sig_b"), "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        pairs.withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def md5_hash64(col) -> "F.Column":
    """64-bit signed hash from the first 16 hex chars of md5(col).

    Slower than xxhash64 (cryptographic digest + hex parse) but
    bit-identical across engines: any system with md5 + string slicing
    + integer arithmetic reproduces it, which makes operators built on
    it oracle-checkable (same role as ``doc_fingerprint``'s md5 in
    functions/text.py). The two 32-bit halves are parsed via conv() and
    reassembled in two's complement so the value equals Java's
    ``(hi << 32) | lo`` on a long.
    """
    hex16 = F.substring(F.md5(col), 1, 16)
    hi = F.conv(F.substring(hex16, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex16, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def ares_weight_key(id_col: str, weight, salt: str = ":wsample"):
    """The A-Res weighted-sampling key (Efraimidis-Spirakis): ln(u)/w
    for a salted-hash uniform u ∈ (0,1) derived from the row id —
    rank DESCENDING on this key and keep the top k for a weighted
    sample without replacement whose membership is a pure function of
    (id, weight): order-, partitioning- and rerun-independent.

    Defined ONCE here because the hash→uniform→key arithmetic must
    stay bit-identical between the oracle-checked declared query (q81)
    and the pipeline stage users run (CorpusPipeline.sample_weighted);
    a one-sided tweak would silently decouple them. The (bucket+0.5)/1e6
    construction keeps u strictly inside (0,1) so ln() never sees 0.
    """
    u = (
        F.pmod(
            md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
            F.lit(1_000_000),
        )
        + 0.5
    ) / 1_000_000.0
    return F.log(u) / weight


def winnowing_fingerprint_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprints as (id, fp) ROWS — the corpus-scale form
    of ``functions.text.winnowing_fingerprints`` (same selection, same
    guarantee: shared runs of >= k + window - 1 words share a
    fingerprint).

    Why a separate form: the array expression hashes every k-gram
    inside a higher-order-function lambda, which Spark evaluates
    INTERPRETED, outside whole-stage codegen and without common-
    subexpression elimination — measured 23.7 s vs 2.1 s at sf0.1 for
    the md5 gram hash (11x). Here gram building, hashing, and the
    window-min selection are all codegen: an index sequence is
    exploded and each gram assembled with ``concat_ws`` over NULL-safe
    ``get`` lookups (the ``shingle_rows`` formulation), hashed in the
    same projection, and the window-min becomes a window function over
    (id, gram_idx) — one shuffle on the id, everything JVM-compiled.

    ``gram_hash``: "xxhash64" (scale default) or "md5_64" (oracle-
    portable, q40).
    """
    g = shingle_rows(
        _spread(df.select(F.col(id_col).alias("__id"), text_col)),
        text_col,
        ["__id"],
        n=k,
        with_pos=True,
    )
    hash_fn = md5_hash64 if gram_hash == "md5_64" else F.xxhash64
    h = g.select(
        "__id",
        F.greatest(F.col("__nw") - (k - 1), F.lit(1)).alias("__ng"),
        "__idx",
        hash_fn(F.col("__s")).alias("__h"),
    )
    from pyspark.sql import Window as W

    win = W.partitionBy("__id").orderBy("__idx").rowsBetween(0, window - 1)
    # valid window starts (0-based): 0 .. greatest(n_grams - window, 0)
    # — exactly the array form's 1..greatest(n_grams - window + 1, 1);
    # rowsBetween truncates at the partition tail like array slicing.
    mins = h.select(
        "__id",
        "__idx",
        "__ng",
        F.min("__h").over(win).alias("fp"),
    ).filter(F.col("__idx") <= F.greatest(F.col("__ng") - window, F.lit(0)))
    return mins.select(F.col("__id").alias(id_col), "fp").distinct()


def simhash_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: sign-aggregate token hash bits.

    For each bit position, sum +1/-1 over tokens according to the
    token's hash bit → bit set iff sum > 0. Explode tokens once,
    then ``bits`` codegen'd conditional-sum aggregates in one groupBy
    (same explode-beats-interpreted-HOF tradeoff as
    ``minhash_signatures``). Result is a single BIGINT column suitable
    for Hamming-distance bucketing (join on 16-bit chunks for <= 4·k
    distance candidates).

    ``token_hash``: "xxhash64" (default — cheapest, JVM-native) or
    "md5_64" (``md5_hash64`` — portable across engines, used by the
    declared q25 so a SQL oracle can replay the exact bit votes).
    """
    if token_hash == "xxhash64":
        hash_expr = F.xxhash64("__t")
    elif token_hash == "md5_64":
        hash_expr = md5_hash64("__t")
    else:  # pragma: no cover - guarded misuse
        raise ValueError(f"unknown token_hash {token_hash!r}")
    tokens = F.array_distinct(F.split(_norm_text(F.col(text_col)), " "))
    # Hash each token ONCE in the projection; the per-bit aggregates
    # below then only do integer shift/mask on the precomputed hash
    # (vs. ``bits`` string hashes per row if the hash fn lived inside
    # every aggregate expression).
    tok = _spread(_drop_blank_text(df, text_col)).select(
        # plain explode: the blank-text policy guarantees >= 1 token
        F.col(id_col).alias("__id"), F.explode(tokens).alias("__t")
    ).select("__id", hash_expr.alias("__h"))
    # The 64 per-bit vote aggregates and the sign-bit reassembly are
    # built as parsed SQL text — identical trees to the former
    # Column-API loops at a fraction of the driver py4j cost (the
    # lsh_signature_sql fix; ~1 s off q25's build at sf0.1).
    votes = tok.groupBy("__id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(`__h`, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"__b{i}")
            for i in range(bits)
        ]
    )
    # bit 63 as a long would overflow 2**63; shiftleft keeps it in
    # two's-complement like a real sign-bit set.
    simhash = F.expr(
        "("
        + " | ".join(
            f"shiftleft(CASE WHEN `__b{i}` > 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END, {i})"
            for i in range(bits)
        )
        + ")"
    )
    # Signatures feed both sides of the Hamming-bucket self-join →
    # materialize the (id, long) table once (see materialize).
    return materialize(votes.select("__id", simhash.alias("simhash")))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 3,
    token_hash: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """All document pairs within ``max_distance`` SimHash Hamming
    distance — value-grouped, multi-chunk-blocked, complete recall.

    Two scale defenses over the naive single-chunk pigeonhole join:

    1. **Group identical signatures first.** Real corpora collapse
       many docs onto one 64-bit simhash (near-dup clusters, short
       docs); pairing runs between DISTINCT signature VALUES, and doc
       pairs are re-expanded from the per-value id lists afterwards.
       Work between values is independent of duplicate multiplicity;
       the expansion is output-sized, which is the lower bound anyway.
    2. **Combination blocking** (the Manku/Jain/Sarma multi-table
       scheme): 64 bits split into ``max_distance + 3`` chunks; a pair
       within distance d flips bits in at most d chunks, so at least 3
       chunks are untouched — every value emits one key per 3-chunk
       COMBINATION (C(d+3, 3) keys) and candidates must agree on ~32
       key bits, not 16. Measured on organic 50 k-doc data: 95.3 M
       single-chunk candidate doc pairs → 3.2 M value-pair candidates
       (max bucket 7 737 → 366), q25 80.8 s → see PARITY.md.

    Recall is COMPLETE for distance ≤ ``max_distance`` (pigeonhole),
    so the output equals the brute-force all-pairs result exactly —
    the declared q25 hash-diffs it against that oracle. Returns
    (id_a, id_b, hamming), id_a < id_b.
    """
    sigs = simhash_buckets(df, text_col, id_col, bits, token_hash)
    return hamming_pairs(sigs, "simhash", "__id", max_distance, bits)


def hamming_pairs(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_distance: int = 3,
    bits: int = 64,
) -> DataFrame:
    """All id pairs whose integer signatures are within
    ``max_distance`` Hamming distance — the signature-agnostic core of
    ``simhash_hamming_pairs`` (same value-grouping + 3-chunk
    combination blocking, complete recall by pigeonhole), reusable for
    ANY 64-bit locality-preserving signature: text SimHash, image
    perceptual hashes (multimodal/binary.py ``image_ahash``), audio
    fingerprints. Returns (id_a, id_b, hamming), id_a < id_b."""
    if not 1 <= max_distance <= 8:
        raise ValueError("max_distance must be in [1, 8]")
    sigs = df.select(F.col(sig_col).alias("simhash"), F.col(id_col).alias("__id"))
    groups = materialize(
        sigs.groupBy("simhash").agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
    )

    # Tier 1: identical-signature pairs (hamming 0) via in-group expansion.
    within = (
        groups.filter(F.size("__ids") > 1)
        .select(_pairs_within_sorted("__ids").alias("__p"))
        .select("__p.id_a", "__p.id_b", F.lit(0).cast("int").alias("hamming"))
    )

    # Tier 2: cross-value candidates on 3-chunk combination keys.
    from itertools import combinations

    n_chunks = max_distance + 3
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    # combination-key array as one parsed expression (the
    # lsh_signature_sql py4j-chatter fix): same named_struct/xxhash64
    # tree per 3-chunk combination.
    def chunk(i):
        return f"(shiftright(`simhash`, {offsets[i]}) & {(1 << widths[i]) - 1})"

    keys = F.expr(
        "array("
        + ",".join(
            f"named_struct('k', {n}, 'v', "
            f"xxhash64({chunk(a)}, {chunk(b)}, {chunk(c)}))"
            for n, (a, b, c) in enumerate(combinations(range(n_chunks), 3))
        )
        + ")"
    )
    keyed = groups.select("simhash", F.explode(keys).alias("kk")).select(
        "simhash", "kk.k", "kk.v"
    )
    va = keyed.select(F.col("simhash").alias("__va"), "k", "v")
    vb = keyed.select(F.col("simhash").alias("__vb"), "k", "v")
    vpairs = (
        va.join(vb, ["k", "v"])
        .filter(F.col("__va") < F.col("__vb"))
        .select("__va", "__vb")
        .dropDuplicates(["__va", "__vb"])
        .withColumn(
            "hamming", F.bit_count(F.col("__va").bitwiseXOR(F.col("__vb")))
        )
        .filter(F.col("hamming") <= max_distance)
    )
    cross = (
        vpairs.join(groups.select(F.col("simhash").alias("__va"), F.col("__ids").alias("__ia")), "__va")
        .join(groups.select(F.col("simhash").alias("__vb"), F.col("__ids").alias("__ib")), "__vb")
        .select(F.explode("__ia").alias("ia"), F.col("__ib"), "hamming")
        .select("ia", F.explode("__ib").alias("ib"), "hamming")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def connected_components(
    pair_df: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Exact connected components over near-dup pairs (id_a, id_b) by
    iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until fixpoint.

    Returns (id, component) where component = min node id in the
    component — the canonical representative.

    Scale shape: each iteration is one groupBy(min) over the current
    labels joined through the edge list — all shuffles on node id, no
    driver-side graph. Iterations needed = graph diameter (near-dup
    clusters are shallow — a handful); ``max_iter`` bounds runaway on
    adversarial chains. Each iteration's result is materialized
    (lineage cut) so plan depth stays O(1) per iteration instead of
    exploding exponentially.
    """
    # Undirected edge list, materialized ONCE: pair_df is typically an
    # expensive similarity-join pipeline, and the loop consumes edges
    # every iteration — without the cut, each iteration would re-run
    # the whole pair generation (measured 5×+ total cost).
    edges = materialize(
        pair_df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pair_df.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # Convergence check: per-node labels only ever decrease, so
    # sum(component) is strictly decreasing until fixpoint — one cheap
    # aggregate on the materialized labels replaces a join-and-count.
    # Decimal sum: immune to long overflow at any node count.
    def _label_sum(lab: DataFrame):
        return lab.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    def _step(lab: DataFrame) -> DataFrame:
        # neighbor labels: for each node, the min label among neighbors
        neighbor_min = (
            edges.join(lab, edges.dst == lab.id)
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
            .withColumnRenamed("src", "id")
        )
        return lab.join(neighbor_min, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("n_min", "component")).alias(
                "component"
            ),
        )

    prev_sum = _label_sum(labels)
    converged = False
    # TWO propagation steps per materialize+convergence-check: labels
    # only ever decrease, so a batch whose end sum equals the previous
    # check's sum proves the fixpoint, while halving the eager jobs
    # and driver collects that dominate the loop on shallow graphs
    # (near-dup diameters are a handful). Within the chained double
    # step the intermediate labels frame feeds two branches; its
    # shuffle is deduplicated by Spark's ReusedExchange, so the batch
    # costs ~1 extra aggregation, not a recompute.
    #
    # Bound semantics: ``max_iter`` bounds CHANGING propagation steps
    # (the graph-diameter budget), not detection overhead — the loop
    # allows one extra confirming batch beyond it, so a graph whose
    # labels stop changing by step max_iter always converges cleanly
    # (no spurious raise from checking only at batch boundaries), and
    # one still changing past it still raises. Batch granularity makes
    # the bound effectively round up to the next even step count.
    steps = 0
    while steps < max_iter + 2:
        lab2 = _step(_step(labels))
        labels = materialize(lab2)
        steps += 2
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Returning part-propagated labels would silently split real
        # clusters (and dedup_keep_best would then keep spurious
        # survivors). Diameter > max_iter is an input-shape surprise —
        # refuse loudly rather than corrupt downstream dedup.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations (component diameter exceeds the bound); raise max_iter "
            "or pre-chunk the adversarially-chained input"
        )
    return labels


def dedup_keep_best(
    df: DataFrame,
    pair_df: DataFrame | None,
    id_col: str,
    exact: bool = True,
    comps: DataFrame | None = None,
) -> DataFrame:
    """Cluster-level dedup: given near-dup pairs (id_a, id_b), keep one
    representative row per duplicate CLUSTER.

    ``exact=True`` resolves clusters with connected components and
    keeps the min-id member of each — correct even for chains
    (a~b, b~c, a!~c still collapses to one survivor). ``exact=False``
    is the cheap one-pass approximation (drop the higher id of every
    pair) — keeps at least one doc per cluster but may keep several on
    chain-shaped clusters; use when pairs are already transitive.

    ``comps`` short-circuits the component resolution with a
    precomputed (id, component) cluster map — the build-artifact path:
    a pipeline that materializes its cluster map once (plans/queries
    ``_dup_clusters``) passes it here instead of re-clustering per
    report. ``pair_df`` is ignored when ``comps`` is given.
    """
    if comps is None and pair_df is None:
        raise ValueError("dedup_keep_best needs pair_df or a precomputed comps")
    if comps is not None:
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    elif exact:
        comps = connected_components(pair_df)
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pair_df.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scan: for every training document that
    shares at least one word ``n``-gram with ANY evaluation document,
    count how many of its distinct shingles are contaminated.

    The standard pre-training hygiene step (the reference corpus must
    not contain the eval suite): explode eval shingles → distinct →
    that set is tiny relative to the corpus (benchmark suites are
    ~10³-10⁵ docs vs ~10⁹ training docs), so it is BROADCAST and the
    100 TB training side streams through a map-side hash semi-join —
    no shuffle of the training corpus at all, the single groupBy
    shuffles only the hit rows (bounded by the contamination rate).
    Shingles are xxhash64'd before the join so the broadcast table
    holds 8-byte keys, not strings.

    ``broadcast_eval=False`` drops the hint for the degenerate case of
    an eval set that rivals the corpus (AQE then picks the strategy).
    Returns (``id_col``, n_hits) for contaminated docs only — feed to
    a left_anti join (see ``decontaminate``) to scrub.
    """
    ev = (
        shingle_rows(eval_df.select(text_col), text_col, [], n)
        .select(F.xxhash64("__s").alias("__sh"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    # row-form shingles carry within-doc duplicate OCCURRENCES — kept
    # deliberately: deduping here would shuffle the full training
    # corpus, while the semi-join below bounds surviving rows by the
    # contamination mass. The per-doc distinct the hit count needs is
    # restored AFTER the semi-join by count_distinct.
    tr = shingle_rows(
        _spread(train.select(F.col(id_col).alias("__id"), text_col)),
        text_col,
        ["__id"],
        n,
    ).select("__id", F.xxhash64("__s").alias("__sh"))
    return (
        tr.join(ev, "__sh", "left_semi")
        .groupBy("__id")
        .agg(F.count_distinct("__sh").alias("n_hits"))
        .select(F.col("__id").alias(id_col), "n_hits")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop training docs sharing ≥ ``min_hits`` word n-grams with the
    eval set (see ``contamination_hits``). Blank/NULL-text training
    rows have no shingles, are never contaminated, and pass through."""
    hits = contamination_hits(
        train, eval_df, text_col, id_col, n, broadcast_eval
    ).filter(F.col("n_hits") >= min_hits)
    return train.join(hits.select(id_col), id_col, "left_anti")


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: drop batch docs that duplicate the EXISTING
    corpus (exact tier, then MinHash-LSH near tier with exact-Jaccard
    rerank). The growing-corpus ingestion pattern — each new crawl
    batch is deduped against everything already kept, without ever
    re-pairing the corpus against itself.

    Tiers:
    1. exact — md5 content fingerprint anti-join (NULL-text batch rows
       have a NULL fingerprint, never match, and survive);
    2. near — band buckets on both sides, equi-join on (band, bucket)
       restricted to corpus×batch (never corpus×corpus: the corpus is
       assumed already deduped, so its self-pairs are dead work),
       distinct candidate pairs, then EXACT Jaccard on word shingles
       decides the drop. Blank-text rows don't participate (operator
       blank policy) and survive the near tier.

    Scale shape: the corpus side's signatures are the expensive input —
    in production they are a build artifact maintained incrementally
    (append each surviving batch's signatures), so the steady-state
    cost is ~O(|batch|) per ingest plus the (band,bucket) join against
    the signature index. All shuffle keys are 8-byte hashes; rerank
    touches only LSH candidates, never O(|batch|·|corpus|).

    Returns the surviving batch rows (all original columns).
    """
    rows_per_band = num_hashes // bands

    fp = doc_fingerprint(F.col(text_col))
    cfp = corpus.select(fp.alias("__fp")).filter(F.col("__fp").isNotNull()).distinct()
    survivors = batch.withColumn("__fp", fp).join(cfp, "__fp", "left_anti").drop("__fp")

    bsig = materialize(
        minhash_signatures(_spread(survivors), text_col, id_col, num_hashes, shingle_n)
    )
    csig = minhash_signatures(_spread(corpus), text_col, id_col, num_hashes, shingle_n)
    bb = _band_buckets(bsig, bands, rows_per_band).select(
        F.col("__id").alias("__bid"), "band", "bucket"
    )
    cb = _band_buckets(csig, bands, rows_per_band).select(
        F.col("__id").alias("__cid"), "band", "bucket"
    )
    # cand feeds three consumers (two id prunes + the rerank join) —
    # cut lineage so the LSH candidate pipeline runs once
    cand = materialize(
        bb.join(cb, ["band", "bucket"])
        .select("__bid", "__cid")
        .dropDuplicates(["__bid", "__cid"])
    )

    # build the (interpreted-HOF) shingle ARRAYS only for docs that
    # actually appear in a candidate pair: the semi-join prune keeps
    # the full corpus on the codegen/broadcast path and bounds the
    # HOF cost by the candidate count, not the corpus size
    bids = cand.select(F.col("__bid").alias(id_col)).distinct()
    cids = cand.select(F.col("__cid").alias(id_col)).distinct()
    sh_b = (
        _drop_blank_text(survivors, text_col)
        .join(bids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("__bid"),
            word_shingles(F.col(text_col), shingle_n).alias("__shb"),
        )
    )
    sh_c = (
        _drop_blank_text(corpus, text_col)
        .join(cids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("__cid"),
            word_shingles(F.col(text_col), shingle_n).alias("__shc"),
        )
    )
    inter = F.size(F.array_intersect("__shb", "__shc")).cast("double")
    drop = (
        cand.join(sh_b, "__bid")
        .join(sh_c, "__cid")
        .withColumn("__j", inter / (F.size("__shb") + F.size("__shc") - inter))
        .filter(F.col("__j") >= threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return survivors.join(drop, id_col, "left_anti")
