"""Approximate-nearest-neighbor search over embedding columns.

North-star similarity-search surface over
``embeddings(vec_id, embedding array<float>, label)``:

- ``cosine_topk_bruteforce``: exact top-k by cosine similarity against
  a literal query vector. The dot product is a ``zip_with`` +
  ``aggregate`` expression (JVM-side, codegen) and the top-k is
  ``orderBy().limit(k)`` → Catalyst plans TakeOrderedAndProject, so
  each partition keeps only k rows and the driver merges — no global
  sort. This is the correctness baseline and is already
  embarrassingly parallel at 100 TB.
- ``cosine_topk_lsh``: random-hyperplane LSH variant — the scale path.
  Deterministic hyperplanes (seeded), sign-bit signature per vector,
  candidates = rows whose signature is within ``probe_bits`` of the
  query's bucket (multi-probe), exact rerank on candidates only. At
  1000 executors the signature filter prunes ~(1/2^bits) of the scan
  before any float math runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def _cosine_vs_literal(vec: Column, query_vec: list[float]) -> Column:
    """Cosine vs a LITERAL query: the query's norm is computed in
    Python, not as a Catalyst expression. (Folding an ``aggregate``
    over a 64-literal array inside a ``when`` costs ~10 s of analyzer
    time per query — measured; the Python float is free and the FP
    sequence matches a sequential SQL sum.)"""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # plain sequential sum — the same FP sequence DuckDB's
    # list_dot_product uses, so the oracle rounds identically
    qnorm = math.sqrt(sum(x * x for x in query_vec))
    return _dot(vec, q) / (_norm(vec) * F.lit(qnorm))


def cosine_topk_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector.

    Ties broken by id so results are deterministic across engines.
    """
    scored = df.withColumn(
        "cosine_sim", F.round(_cosine_vs_literal(F.col(vec_col), query_vec), 6)
    )
    return (
        scored.orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .select(id_col, "cosine_sim")
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — stdlib-only,
    reproducible across platforms, no numpy RNG state concerns)."""
    state = seed
    planes = []
    for _ in range(bits):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # Map to (-1, 1)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def _dlit(x: float) -> str:
    """Exact double literal for a generated SQL fragment: Python's
    shortest round-trip repr + the D suffix (parsed by Java's
    Double.parseDouble — also shortest-round-trip, so the JVM sees the
    identical IEEE value ``F.lit(float(x))`` would carry)."""
    return repr(float(x)) + "D"


def _dot_sql(vec_sql: str, values: list[float]) -> str:
    """SQL text of ``_dot(vec, array(values))`` — same zip_with cast ×
    cast product and same sequential left fold from 0.0, so the parsed
    expression is operator-for-operator the Column-API tree."""
    arr = ",".join(_dlit(x) for x in values)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _l2sq_sql(vec_sql: str, center: list[float]) -> str:
    """SQL text of ``_l2sq_vs_literal`` — identical lambda and fold."""
    arr = ",".join(_dlit(x) for x in center)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def lsh_signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text of :func:`lsh_signature` over ``vec_sql``.

    WHY a string: the Column-API construction costs ~80 py4j
    round-trips per plane (64 literals + the HOF lambdas), which at
    8 bits × 4 bands measured ~4 s of pure driver time per build —
    half of q61/q109's whole wall (r10 probe). One ``F.expr`` parse of
    this text builds the same tree in the JVM in milliseconds."""
    bits = []
    for i, p in enumerate(planes):
        dot = _dot_sql(vec_sql, p)
        bits.append(
            f"shiftleft(CASE WHEN {dot} > 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END, {i})"
        )
    return "(" + " | ".join(bits) + ")"


def lsh_signature(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i set iff dot(vec, plane_i) > 0.

    Pass the column NAME to get the single-``F.expr`` construction
    (fast driver build — see :func:`lsh_signature_sql`); a Column
    falls back to the per-plane Column-API loop (same tree)."""
    if isinstance(vec_col, str):
        return F.expr(lsh_signature_sql(f"`{vec_col}`", planes))
    sig = None
    for i, p in enumerate(planes):
        pl = F.array(*[F.lit(float(x)) for x in p])
        bit = F.shiftleft(
            F.when(_dot(vec_col, pl) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
            i,
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sig


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    probe_bits: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """LSH-pruned cosine top-k: filter to rows whose random-hyperplane
    signature is within Hamming distance ``probe_bits`` of the query's,
    then exact-rerank. Recall grows with ``probe_bits``; cost grows as
    sum(C(bits, d) for d <= probe_bits)/2^bits of the scan.
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qsig |= 1 << i

    sig = lsh_signature(vec_col, planes)
    hamming = F.bit_count(sig.bitwiseXOR(F.lit(qsig)))
    return (
        df.withColumn("__ham", hamming)
        .filter(F.col("__ham") <= probe_bits)
        .withColumn("cosine_sim", F.round(_cosine_vs_literal(F.col(vec_col), query_vec), 6))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .select(id_col, "cosine_sim")
        .limit(k)
    )


def ivf_train(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """IVF coarse-quantizer TRAINING: k-means centroids over (a sample
    of) the vectors. This is the offline index-build step — run it once,
    keep the ``n_cells`` centroid lists (a few KB), and serve every
    query with :func:`ivf_assign` + probe. At 100 TB you fit on
    ``sample_fraction`` of the table (k-means centroids converge on a
    sample; the full-data fit buys nothing but wall-clock) and never
    refit per query.

    Training uses pyspark.ml KMeans (seeded — deterministic for a given
    input + fraction).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_src = (
        df.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else df
    )
    feat = fit_src.withColumn(
        "__fv", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="__fv", predictionCol="__cell")
    model = km.fit(feat)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _l2sq_vs_literal(vec: Column, center: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    df: DataFrame, centers: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``__cell`` = nearest-centroid id as a PURE Catalyst
    expression (argmin over ``len(centers)`` literal centroids via
    ``array_min`` of (distance, id) structs — struct ordering is
    lexicographic, ties go to the lower cell id). Map-only, no shuffle,
    no ML model object needed at serve time: the index you ship to a
    query node is just the centroid lists."""
    # argmin as ONE parsed expression (the py4j-chatter fix shared
    # with lsh_signature_sql): same named_struct/array_min tree.
    cells = ",".join(
        f"named_struct('d', {_l2sq_sql(f'`{vec_col}`', c)}, 'i', {i})"
        for i, c in enumerate(centers)
    )
    return df.withColumn("__cell", F.expr(f"array_min(array({cells}))['i']"))


def label_seed_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    cells_per_label: int = 8,
) -> DataFrame:
    """Deterministic PER-LABEL seed centers: the ``cells_per_label``
    lowest-id vectors OF EACH LABEL, as a (label, __cell, __cv) table.

    Global seed centers collapse on clustered data: every vector of a
    tight label cluster snaps to the single center nearest that
    cluster, so label × cell blocking degenerates back to label-only
    blocking (measured: q48 grew 16× on 10× organic data). Seeds drawn
    INSIDE each label are cluster members — vectors of the label
    spread across them by their own noise, so per-label block count
    actually multiplies. Replayable in SQL (row_number per label) —
    the declared q48's oracle reproduces the exact center list.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(id_col)
    return (
        df.select(label_col, id_col, vec_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cells_per_label)
        .select(
            label_col,
            (F.col("__rn") - 1).alias("__cell"),
            F.col(vec_col).alias("__cv"),
        )
    )


def label_cell_assign(
    df: DataFrame,
    centers: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to the nearest center OF ITS OWN LABEL
    (argmin squared L2, ties to the lower cell id) — fully
    distributed: the small (label, __cell, __cv) center table is
    broadcast, distances run in the joined projection, and the argmin
    is a min-of-struct aggregate over narrow (id, d, cell) rows; the
    wide vector column never re-shuffles. Adds ``__cell`` to ``df``.

    Same distance arithmetic as :func:`ivf_assign` (sequential
    zip_with sum, so a SQL oracle's list_sum comprehension reproduces
    it bit-for-bit); the difference is centers come from a DataFrame
    (no driver round-trip) and the argmin is per (vector, label).

    The center join is INNER: a vector whose label has no center row
    is dropped. Centers built by :func:`label_seed_cells` over the same
    ``df`` cover every label by construction; pass externally-built
    centers only if they span the label dictionary.
    """
    j = df.select(id_col, label_col, vec_col).join(F.broadcast(centers), label_col)
    dist = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("__cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    best = (
        j.select(id_col, F.struct(dist.alias("d"), F.col("__cell").alias("i")).alias("__s"))
        .groupBy(id_col)
        .agg(F.min("__s").alias("__m"))
        .select(id_col, F.col("__m.i").alias("__cell"))
    )
    return df.join(best, id_col)


# fine cell ids pack as coarse * _TWO_LEVEL_STRIDE + fine; fine counts
# are ceil(|coarse cell| / target_block) <= N / target_block, far under
# the stride at any realistic per-label population
_TWO_LEVEL_STRIDE = 1_000_000


def label_cell_assign_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    cells_per_label: int = 8,
    target_block: int = 64,
) -> DataFrame:
    """Two-level (coarse → fine) quantizer-cell assignment: the IVF
    trick applied to the deterministic seed-cell blocker. Adds
    ``__cell`` = coarse * _TWO_LEVEL_STRIDE + fine.

    WHY: single-level argmin against m centers costs N×m distance
    evaluations, and m itself grows with N (cells_per_label =
    ceil(N / (labels × target_block))) — so the ASSIGNMENT is the
    hidden quadratic term of the composite blocker, not the bounded
    within-block pairing. Measured at ×100 organic (200 k vectors,
    m = 313): 62.6 M distance evals — 41-48 s of q48's ~50 s. Two
    levels cut it to ~N×2√m (7.2 M evals, 10-14 s measured) while
    keeping every step deterministic and SQL-replayable:

    - coarse centers = the c1 = ceil(√m) lowest-id vectors OF EACH
      LABEL (:func:`label_seed_cells` — unchanged seed discipline);
    - coarse assign = argmin sequential-sum squared L2, ties to the
      lower cell id (:func:`label_cell_assign` — unchanged
      arithmetic, so the oracle's list_sum comprehension still
      reproduces it bit-for-bit);
    - fine centers = the ceil(|cell| / target_block) lowest-id
      members OF EACH (label, coarse) CELL — COUNT-PROPORTIONAL, the
      global sizing rule applied one level down. A uniform fine count
      (ceil(m / c1) everywhere) collapsed the ×100 organic planted
      duplicate cluster into ONE 2194-vector block (a tight cluster
      is closest to a single center no matter how ties break; only
      MORE centers drawn inside it — near-identical, split by their
      own noise — divide it), which tripled the pairing volume
      (sum n² 29 M → 70 M). Proportional fine counts restore
      single-level's block-size profile at two-level's assign cost;
    - fine assign = the same argmin within the coarse cell.

    Blocks average ~target_block vectors, total fine centers ≈ m, and
    the per-level eval budget is N×c1 + Σ|cell|×ceil(|cell|/64) —
    ~N×2√m when cells are balanced, and a skewed coarse cell pays
    |cell|²/64, bounded by the coarse split long before the global
    N×m term."""
    c1 = max(1, math.ceil(math.sqrt(cells_per_label)))
    coarse_centers = label_seed_cells(df, id_col, label_col, vec_col, c1)
    # The coarse stage feeds multiple consumers (fine-center ranking,
    # the fine argmin join, the assignment join-back). Persist the
    # NARROW assignment — (id, __coarse, __lc), ~tens of bytes/row at
    # any N — so the coarse argmin (the N×√m distance-eval stage) runs
    # ONCE instead of per consumer; each consumer re-attaches the wide
    # vector rows with one id-equi-join against ``df``. Caching the
    # WIDE rows instead (localCheckpoint) carried the embedding
    # vectors and measured 35.4 → 52.8 s at ×100 — the narrow cache
    # keeps the ×100 win while removing the small-scale replay tax the
    # r9 bench flagged (q48 sf0.1 1.20→1.57 s, q76 ×10 6.16→8.05 s).
    from pyspark import StorageLevel

    coarse_narrow = (
        label_cell_assign(df, coarse_centers, id_col, label_col, vec_col)
        .select(
            id_col,
            F.col("__cell").alias("__coarse"),
            F.concat_ws("\x1f", label_col, "__cell").alias("__lc"),
        )
        # MEMORY_ONLY: ~24 B/row fits trivially at any N; persist keeps
        # lineage so an evicted/lost block recomputes (unlike a
        # localCheckpoint), and skipping the disk tier measured ~0.1 s
        # off both consumers' queries at sf0.1
        .persist(StorageLevel.MEMORY_ONLY)
    )
    coarse = df.join(coarse_narrow, id_col)
    from pyspark.sql import Window

    # cell count + fine-center ranking fused into ONE partitioned pass:
    # the whole-partition count frame rides the same __lc partitioning
    # the row_number sorts, so no separate groupBy+broadcast-join round
    w = Window.partitionBy("__lc").orderBy(id_col)
    wc = Window.partitionBy("__lc")
    fine_centers = (
        coarse.select("__lc", id_col, vec_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__cnt") / F.lit(target_block)))
        .select(
            "__lc",
            (F.col("__rn") - 1).alias("__cell"),
            F.col(vec_col).alias("__cv"),
        )
    )
    fine = label_cell_assign(coarse, fine_centers, id_col, "__lc", vec_col)
    return fine.withColumn(
        "__cell", F.col("__coarse") * _TWO_LEVEL_STRIDE + F.col("__cell")
    ).drop("__coarse", "__lc")


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centers: list[list[float]] | None = None,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF top-k: probe only the ``n_probe`` cells whose centroids are
    nearest the query, exact-rerank inside them.

    Pass ``centers`` (from a prior :func:`ivf_train`) to serve from a
    prebuilt index — the per-query cost is then assign + probe only.
    Without it the index is (re)trained here, on ``sample_fraction`` if
    given.

    The cell filter is a plain ``isin`` predicate over an int column —
    sargable, partition-prunable if the table is written partitioned by
    cell (the 100 TB layout: one parquet partition per cell means a
    query touches n_probe/n_cells of the data). Recall grows with
    ``n_probe``; cost is the probed fraction of the scan.
    """
    if centers is None:
        centers = ivf_train(df, n_cells, vec_col, seed, sample_fraction)
    assigned = ivf_assign(df, centers, vec_col)

    # Probe ranking uses EUCLIDEAN distance to match the quantizer's
    # assignment geometry (k-means cells are Voronoi in L2; ranking by
    # cosine would probe the wrong cells for unnormalized vectors).
    def _l2(a: list[float], b: list[float]) -> float:
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    probe = sorted(range(len(centers)), key=lambda c: _l2(query_vec, centers[c]))[:n_probe]
    return (
        assigned.filter(F.col("__cell").isin(probe))
        .withColumn("cosine_sim", F.round(_cosine_vs_literal(F.col(vec_col), query_vec), 6))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .select(id_col, "cosine_sim")
        .limit(k)
    )


def embedding_near_duplicates_by_block(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-neighbor pairs within attribute blocks.

    Candidate generation = equi-join on ``block_col`` (a label, a
    coarse-quantization cell id, a shard key...) instead of hyperplane
    buckets — the blocked-join discipline with EXACT recall inside each
    block. At 100 TB the self-join shuffles each block to one place;
    block sizes bound the quadratic term (B blocks of n/B rows →
    n²/B pair candidates), and a skewed block is split by AQE skew-join
    handling. Returns (id_a, id_b, cosine_sim), id_a < id_b.
    """
    # Norms are computed ONCE per vector before the pair join (4×
    # measured at sf0.1): per pair only the dot product runs. The
    # division uses sqrt(dot(a,a)) * sqrt(dot(b,b)) exactly like the
    # inline form, so results are bit-identical to the oracle's formula.
    base = df.select(
        F.col(block_col).alias("__b"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    a = base.select(
        "__b", F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = base.select(
        "__b", F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_sim",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Embedding dimensionality without a driver-side data probe:
    explicit ``dim`` wins, else the column's schema metadata key
    ``"dim"`` (stamped by upstream writers, e.g.
    ``df.withMetadata(vec_col, {"dim": 64})``). Raises if neither is
    present — a ``first()`` probe from inside a declared query path is
    a hidden driver action the engine bans."""
    if dim is not None:
        return int(dim)
    meta = df.schema[vec_col].metadata or {}
    if "dim" in meta:
        return int(meta["dim"])
    raise ValueError(
        f"embedding dimensionality unknown: pass dim= or stamp schema "
        f'metadata {{"dim": N}} on column {vec_col!r} '
        f"(df.withMetadata({vec_col!r}, {{'dim': N}}))"
    )


def _band_signatures(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bits: int,
    bands: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """(__id, __vec, __bs=(band, sig)) rows — one per (row, band) with
    the band's ``bits``-plane sign signature. The seed derivation
    (``seed + 1_000_003 * band``) is load-bearing: both DuckDB oracle
    transcriptions (q61, q109) replay it literally, so it lives in
    exactly one place. Vectors ride along deliberately (see the
    shuffle-volume note in :func:`embedding_near_duplicates`)."""
    # The whole (band, sig) struct array rides ONE F.expr: the former
    # per-band Column-API loop paid thousands of py4j round-trips
    # (measured ~4 s per build at 8 bits × 4 bands — r10 probe); the
    # parsed tree is identical (named_struct of int band + the same
    # shiftleft/CASE/aggregate signature).
    band_structs = ",".join(
        f"named_struct('band', {bi}, 'sig', "
        + lsh_signature_sql(
            f"`{vec_col}`", _hyperplanes(dim, bits, seed + 1_000_003 * bi)
        )
        + ")"
        for bi in range(bands)
    )
    return df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.explode(F.expr(f"array({band_structs})")).alias("__bs"),
    )


def _cap_buckets(sigs: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop every (band, signature) bucket larger than ``max_bucket``
    BEFORE pairing — the hot-key cap shared by the single-set and
    cross-set LSH ladders (None disables)."""
    if max_bucket is None:
        return sigs
    counts = sigs.groupBy("__bs").agg(F.count(F.lit(1)).alias("__bn"))
    return sigs.join(counts.filter(F.col("__bn") <= max_bucket), "__bs").drop(
        "__bn"
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: int | None = None,
    bands: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked: vectors sharing an
    exact signature bucket in ANY band are candidates; exact cosine
    confirms. Returns (id_a, id_b, cosine_sim), id_a < id_b.

    ``bands`` independent signature families (each ``bits`` hyperplanes,
    derived seeds) give OR-of-bands candidate generation: a true near-dup
    pair is missed only if it straddles a bucket boundary in EVERY band —
    recall 1-(1-p^bits)^bands for per-bit agreement probability
    p = 1-θ/π, the standard banding amplification (same construction as
    the MinHash-LSH ladder in operators/dedup.py). ``bands=1`` is the
    single-signature form; its recall caveat at high thresholds is
    exactly what extra bands buy back.

    Scale shape: the shuffle key is the 8-byte (band, signature) pair,
    band membership multiplies the shuffled rows by ``bands`` (not the
    pair candidates — each band's buckets shrink the same way), and
    pair dedup runs BEFORE the cosine rerank so each candidate pair is
    scored once.

    ``max_bucket`` is the HOT-KEY CAP — the embedding twin of the text
    ladder's ``max_shingle_df``: a dense near-identical cluster
    concentrates thousands of vectors into the same signature bucket
    in EVERY band, and its pair expansion is quadratic in cluster size
    (measured: 3.3 s → 43 s for 10× organic data at bits=8). Buckets
    over the cap are dropped before pairing; pairs living only inside
    mega-buckets are lost — deliberately, because enumerating a dense
    cluster's pairs is quadratic BY DEFINITION and the scale-correct
    treatment of such clusters is cluster-level dedup (composite-block
    q48 + connected-components keep-best), not pair output. None
    disables the cap.

    ``dim`` (embedding dimensionality) comes from the argument or the
    vector column's schema metadata — see :func:`resolve_dim`; there is
    no driver-side probe.
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    dim = resolve_dim(df, vec_col, dim)
    from cdc_makanmana_spark.operators.dedup import materialize

    # (id, vec, band-signature) rows, MATERIALIZED once: the signature
    # is bits x bands interpreted hyperplane dots per row, and this
    # frame is consumed up to three times (bucket counts, both
    # self-join branches) — without the lineage cut the dot products
    # re-run per consumer (measured 6.8 s → 4.4 s warm at sf0.1 with
    # bits=8, bands=4; the residue is analyzer time on the literal
    # plane trees, which amortizes with data size). Vectors ride along
    # through the band shuffle DELIBERATELY: that costs bands x |T| x
    # vec_size of linear shuffle volume, while the alternative —
    # id-only pairs + two join-backs — shuffles the PAIR table twice,
    # and pairs outnumber rows whenever duplicates are dense (measured
    # 2.3x slower at sf1 on the organic fixture).
    sigs = _cap_buckets(
        materialize(_band_signatures(df, vec_col, id_col, bits, bands, seed, dim)),
        max_bucket,
    )
    a = sigs.select(F.col("__id").alias("id_a"), F.col("__vec").alias("vec_a"), "__bs")
    b = sigs.select(F.col("__id").alias("id_b"), F.col("__vec").alias("vec_b"), "__bs")
    candidates = (
        a.join(b, "__bs")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        candidates.withColumn(
            "cosine_sim", F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6)
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_cross_hits(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    bits: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: int | None = None,
    bands: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """TWO-SET banded-LSH near-neighbor hits: every (corpus, bench)
    pair whose exact cosine clears ``threshold``, candidates generated
    by shared (band, signature) buckets — the cross-set form of
    :func:`embedding_near_duplicates`, built for SEMANTIC benchmark
    decontamination (q49's n-gram tier catches verbatim leakage; this
    catches paraphrased/near-duplicate leakage the shingles miss).
    Returns (corpus_id, bench_id, cosine_sim).

    Scale shape: both sides shuffle on the 8-byte (band, signature)
    key; pair cost is Σ_buckets |corpus_bucket| × |bench_bucket|.
    ``max_bucket`` is the HOT-KEY CAP of the single-set ladder applied
    PER SIDE: at 2^bits buckets a corpus of N rows averages N/2^bits
    rows per bucket, so without the cap the cross expansion degrades
    toward |corpus|×|bench|/2^bits per band (measured: 200k × 20k at
    bits=8 ≈ 56M candidate pairs — the q61 lesson). Buckets above the
    cap drop before pairing; a dropped HOT bucket is near-uniform
    signature mass (boilerplate/template vectors), whose
    contamination treatment is cluster-level dedup (q48 + keep-best),
    not per-pair flags — the same contract the single-set ladder
    documents. Candidate pairs dedup BEFORE the exact-cosine rerank.
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    dim = resolve_dim(corpus, vec_col, dim)
    # the bench side must project onto the SAME hyperplanes: a shorter
    # bench vector would zip_with-null-pad, turning dots/cosines NULL
    # and the hits silently empty/garbage instead of an error (r6
    # advisor find). Only enforceable when bench carries dim metadata
    # (a data probe from an operator is a hidden driver action).
    try:
        bench_dim = resolve_dim(bench, vec_col, None)
    except ValueError:
        bench_dim = dim  # unstamped bench: trust the caller's corpus dim
    if bench_dim != dim:
        raise ValueError(
            f"embedding dim mismatch: corpus={dim}, bench={bench_dim} — "
            "cross-set LSH needs both sides in the same vector space"
        )
    from cdc_makanmana_spark.operators.dedup import materialize

    def prep(df: DataFrame) -> DataFrame:
        sigs = _band_signatures(df, vec_col, id_col, bits, bands, seed, dim)
        if max_bucket is None:
            # single downstream consumer — a localCheckpoint here would
            # be pure storage overhead (the single-set operator's
            # materialize is justified by its THREE consumers)
            return sigs
        return _cap_buckets(materialize(sigs), max_bucket)

    if max_bucket is None:
        sc = prep(corpus)
        sb = prep(bench)
    else:
        # The two sides' signature materializations are INDEPENDENT
        # eager jobs (each a localCheckpoint of its own _band_signatures
        # scan) — submit them from two driver threads so the scheduler
        # overlaps them and the smaller side's wall hides entirely
        # inside the larger side's (guide §2.6 thread-pool overlap;
        # actions are only sequential because driver code calls them
        # sequentially). Results are identical by construction — the
        # checkpoint content does not depend on submission timing.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_c = pool.submit(prep, corpus)
            fut_b = pool.submit(prep, bench)
            sc, sb = fut_c.result(), fut_b.result()
    candidates = (
        sc.select(
            F.col("__id").alias("corpus_id"), F.col("__vec").alias("vec_c"), "__bs"
        )
        .join(
            sb.select(
                F.col("__id").alias("bench_id"), F.col("__vec").alias("vec_b"), "__bs"
            ),
            "__bs",
        )
        .select("corpus_id", "bench_id", "vec_c", "vec_b")
        .dropDuplicates(["corpus_id", "bench_id"])
    )
    return (
        candidates.withColumn(
            "cosine_sim", F.round(cosine_similarity(F.col("vec_c"), F.col("vec_b")), 6)
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("corpus_id", "bench_id", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN COMPRESSION tier. IVF narrows the
# search to a few cells; PQ shrinks what a comparison costs — each
# d-dim float vector is stored as m small codes (one per subspace,
# nearest of k codebook centers), so a 64-dim float32 vector (256 B)
# serves from m bytes, and a query scores candidates from an m x k
# lookup table without touching the original vectors at all. The
# asymmetric-distance construction of Jégou et al., "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011) — public
# literature, composed here from the same literal-center argmin
# machinery ivf_assign uses.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """PQ codebook TRAINING (offline build artifact, like ivf_train):
    independent k-means per subspace over (a sample of) the vectors.
    Returns codebooks[s][j] = center j of subspace s (dim/m floats).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from cdc_makanmana_spark.operators.dedup import materialize

    dim = resolve_dim(df, vec_col, dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    fit_src = (
        df.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else df
    )
    fit_src = fit_src.select(F.col(vec_col).cast("array<double>").alias("__v"))
    # m k-means fits consume the same (sampled) frame: cut lineage once
    fit_src = materialize(fit_src)
    books = []
    for s in range(m):
        feat = fit_src.withColumn(
            "__fv", array_to_vector(F.slice("__v", s * sub + 1, sub))
        )
        km = KMeans(k=k, seed=seed + s, featuresCol="__fv", predictionCol="__c")
        books.append(
            [list(map(float, c)) for c in km.fit(feat).clusterCenters()]
        )
    return books


def pq_seed_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Deterministic codebooks WITHOUT k-means: subspace slices of the
    ``k`` lowest-id vectors. Quantization quality is below a trained
    codebook, but the construction is replayable anywhere (row_number
    + slice — the same trick as q48's label_seed_cells), which is what
    lets an external oracle rebuild the codebooks exactly and verify
    the whole encode → LUT → top-k path bit-for-bit. The driver-side
    collect is k rows of the build step — a bounded build artifact,
    same class as ivf_train's centroids."""
    dim = resolve_dim(df, vec_col, dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    rows = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need >= {k} vectors to seed {k} codes, have {len(rows)}")
    return [
        [[float(x) for x in r["__v"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame, codebooks: list[list[list[float]]], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``__codes`` (array<int>, length m): per subspace, the index
    of the nearest codebook center — pure Catalyst argmin over literal
    centers (struct array_min, ties to the lower code, exactly
    ivf_assign's construction per subspace). Map-only, no shuffle; at
    scale the encoded table is WRITTEN ONCE and queries touch only the
    codes."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # per-subspace argmin as parsed expressions (the py4j-chatter fix
    # shared with lsh_signature_sql): identical slice/struct/array_min
    # trees, built JVM-side from one string each.
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    code_cols = []
    for s in range(m):
        sv = f"slice({v_sql}, {s * sub + 1}, {sub})"
        cells = ",".join(
            f"named_struct('d', {_l2sq_sql(sv, c)}, 'i', {j})"
            for j, c in enumerate(codebooks[s])
        )
        code_cols.append(F.expr(f"array_min(array({cells}))['i']"))
    return df.withColumn("__codes", F.array(*code_cols))


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k_top: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ top-k: the query builds an m x k LUT of
    exact subspace distances to every codebook center (driver-side
    Python over a few hundred floats — the per-QUERY cost, independent
    of table size), and each row's approximate distance is m LUT
    lookups summed in subspace order — no per-row float vector math at
    all. Returns (id, approx_l2) rounded 6, ascending, ties on id —
    plans TakeOrderedAndProject. Recall depends on codebook quality
    (trained vs seeded) and m/k; rerank the top candidates against
    true vectors when exactness matters (same pattern as the LSH
    rerank tiers)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query_vec) != m * sub:
        raise ValueError(f"query dim {len(query_vec)} != {m * sub}")
    lut = []
    for s in range(m):
        qs = query_vec[s * sub : (s + 1) * sub]
        lut.append(
            [
                # explicit (a-b)*(a-b) left-to-right sum: bit-identical
                # to the SQL replay's list_sum comprehension
                sum((qs[t] - c[t]) * (qs[t] - c[t]) for t in range(sub))
                for c in codebooks[s]
            ]
        )
    enc = pq_encode(df, codebooks, vec_col)
    dist = None
    for s in range(m):
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in lut[s]]),
            F.col("__codes")[s] + 1,
        )
        dist = term if dist is None else dist + term
    return (
        enc.select(F.col(id_col), F.round(dist, 6).alias("approx_l2"))
        .orderBy(F.asc("approx_l2"), F.asc(id_col))
        .limit(k_top)
    )


def pq_topk_rerank(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k_top: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The standard PQ serving composition: PQ-approximate SHORTLIST
    (cheap, codes-only) → exact L2 rerank of just the shortlist against
    the true vectors → top-k. Approximation error only costs recall at
    the shortlist boundary (measured on the fixture: m=8, k=16 holds
    9/10 of the exact top-10 inside a 100-shortlist); the returned
    distances are exact. Returns (id, l2_dist) ascending, ties on id."""
    short = pq_topk(df, codebooks, query_vec, shortlist, id_col, vec_col).select(
        id_col
    )
    cand = df.join(F.broadcast(short), id_col, "left_semi")
    exact = _l2sq_vs_literal(
        F.col(vec_col).cast("array<double>"), [float(x) for x in query_vec]
    )
    return (
        cand.select(F.col(id_col), F.round(F.sqrt(exact), 6).alias("l2_dist"))
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k_top)
    )
