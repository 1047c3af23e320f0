"""Corpus preparation operators: chunking and corpus-statistics
scoring — the prep stages between raw documents and training batches
(complements the dedup ladder in operators/dedup.py and the per-doc
quality metrics in functions/text.py).

Reference parity note: the reference has no training-pipeline surface
(it is a client-side search app); these belong to the engine's
north-star extension set (SURVEY.md §2.10), declared as q64/q65.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_makanmana_spark.operators.dedup import (
    _drop_blank_text,
    _norm_text,
    _spread,
    md5_hash64,
    shingle_rows,
)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping fixed-window word chunking (the RAG / context-window
    prep stage): each document's normalized word array is cut into
    chunks of ``window`` words whose starts advance by ``stride``
    (overlap = window - stride). Returns
    (``id_col``, chunk_id, n_chunk_words, chunk_text).

    Scale shape: pure per-row expansion — scan → generate(sequence
    explode) → project, ZERO shuffles (plan-asserted in
    tests/test_plans.py); parallelism is the input split count, state
    is one row's word array. The containment filter
    ``start - stride + window - 1 < n_words`` drops tail starts whose
    chunk the previous chunk already covers, so chunk_ids stay
    contiguous from 0 (the predicate is monotone in start).

    Blank/NULL texts are dropped — the dedup ladder's blank policy
    (``_drop_blank_text``), and chunking's natural one: there is
    nothing to pack.
    """
    if stride < 1 or window < 1:
        raise ValueError("window and stride must be >= 1")
    if stride > window:
        raise ValueError(
            f"stride {stride} > window {window} would skip words between chunks"
        )
    d = _drop_blank_text(df, text_col)
    base = d.select(
        F.col(id_col),
        F.split(_norm_text(F.col(text_col)), " ").alias("__w"),
    ).withColumn("__n", F.size("__w"))
    st = F.col("__st")
    return (
        base.select(
            id_col,
            "__w",
            "__n",
            F.explode(F.sequence(F.lit(1), F.col("__n"), F.lit(stride))).alias(
                "__st"
            ),
        )
        .filter((st == 1) | (st - stride + window - 1 < F.col("__n")))
        .select(
            id_col,
            F.expr(f"(__st - 1) div {int(stride)}").alias("chunk_id"),
            F.expr(f"size(slice(__w, __st, {int(window)}))")
            .cast("long")
            .alias("n_chunk_words"),
            F.expr(f"array_join(slice(__w, __st, {int(window)}), ' ')").alias(
                "chunk_text"
            ),
        )
    )


def bigram_commonness(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Corpus-LM commonness score (the CCNet-style statistical quality
    signal without an external LM): per document, the average corpus
    frequency of its word bigrams (with multiplicity). Boilerplate
    scores high — its bigrams appear everywhere; garbled or
    out-of-domain text scores low. Returns
    (``id_col``, n_bigrams, sum_freq, avg_bigram_freq).

    Join-free: corpus frequencies come from ONE window count over the
    exploded bigram frame partitioned by the 64-bit bigram hash (an
    8-byte shuffle key — bigram strings never shuffle), then a per-doc
    rollup. The score is an exact integer sum divided once, so there
    is no FP accumulation-order noise (oracle-hashable). Hashing is
    md5-derived (``md5_hash64``) so any engine replays it; a 64-bit
    collision would merge two bigrams' counts identically everywhere.

    Docs with fewer than two words produce no row (no bigrams — the
    caller treats absence as "no signal", same as the ladder's blank
    policy).
    """
    # row-form bigrams (shingle_rows n=2, codegen — not an interpreted
    # transform lambda); __nw >= 2 excludes sub-bigram docs, which also
    # drops shingle_rows' short-doc floor shingle for 1-word docs
    bi = (
        shingle_rows(
            _spread(df.select(id_col, text_col)),
            text_col,
            [id_col],
            n=2,
            with_pos=True,
        )
        .filter(F.col("__nw") >= 2)
        .select(id_col, md5_hash64(F.col("__s")).alias("__h"))
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("__h"))
    return (
        bi.select(id_col, c.alias("__c"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__c").alias("sum_freq"),
            F.round(
                F.sum("__c").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_bigram_freq"),
        )
    )


def _sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal (backslash escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_fold_sql(a: str, b: str) -> str:
    """SQL text of the left-to-right fold-merge of (a, b) → ab over a
    ``sym`` array — operator-for-operator the Column-API lambda it
    replaces (CASE/size/element_at/slice/concat), built JVM-side from
    one string instead of ~30 py4j round-trips per merge (the r10
    expression-construction fix; a 32-merge tokenize chain measured
    ~1 s of pure driver build time in the Column form)."""
    la, lb, lab = _sql_str(a), _sql_str(b), _sql_str(a + b)
    return (
        "aggregate(`sym`, CAST(array() AS ARRAY<STRING>), (acc, s) -> "
        f"CASE WHEN ((size(acc) > 0) AND (element_at(acc, -1) = {la}) "
        f"AND (s = {lb})) "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({lab})) "
        "ELSE concat(acc, array(s)) END)"
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge training over a corpus — the tokenizer
    TRAINING step as an iterative Spark algorithm (Sennrich et al.
    2016, the construction GPT-2/RoBERTa vocabularies use; public
    literature). Returns the learned merge list in order.

    Scale shape — the classical trick makes this corpus-size-proof:
    BPE statistics depend only on the WORD FREQUENCY table, so the
    corpus is read ONCE into (word, freq) — everything after runs on
    vocabulary-sized data (|vocab| ≪ corpus, bounded by the language).
    Each iteration is: explode adjacent symbol pairs weighted by word
    freq → one aggregate → argmax (collected: ONE row per iteration,
    the same bounded-scalar pattern as connected_components'
    convergence probe) → fold-merge the winning pair inside every
    word's symbol array. Iterations materialize (lineage cut) so plan
    depth stays O(1) per merge, exactly like the CC loop.

    Determinism: ties on pair frequency break lexicographically, so
    the merge list is a pure function of the corpus.
    """
    from cdc_makanmana_spark.operators.dedup import materialize

    words = (
        _drop_blank_text(df, text_col)
        .select(F.explode(F.split(_norm_text(F.col(text_col)), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            # symbols start as characters; </w> marks word end (the
            # standard trick so merges can't cross word boundaries and
            # end-of-word units are distinct)
            F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>"))).alias("sym"),
            "freq",
        )
    )
    vocab = materialize(words)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            F.explode(
                F.zip_with(
                    F.expr("slice(sym, 1, size(sym) - 1)"),
                    F.expr("slice(sym, 2, size(sym) - 1)"),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_freq:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        # fold-merge (a,b) -> ab left-to-right inside each symbol array:
        # append s unless the accumulator ends with a and s == b, in
        # which case the tail becomes ab. Overlapping runs (a=b) merge
        # greedily left-first, matching the reference algorithm.
        vocab = materialize(
            vocab.select(F.expr(_bpe_fold_sql(a, b)).alias("sym"), "freq")
        )
    return merges


def bpe_tokenize(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list: returns (``id_col``, tokens
    array<string>). The corpus-scale trick: tokenization is a pure
    function of the word, so DISTINCT words are tokenized once (the
    merge fold runs |vocab| times, not |corpus| times) and documents
    get their token arrays back through one broadcast join on the
    word — the fact table never carries symbol arrays through the
    merge loop."""
    d = _drop_blank_text(df, text_col)
    doc_words = d.select(
        F.col(id_col),
        F.posexplode(F.split(_norm_text(F.col(text_col)), " ")).alias("pos", "w"),
    )
    from cdc_makanmana_spark.operators.dedup import materialize

    dict_sym = doc_words.select("w").distinct().withColumn(
        "sym", F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>")))
    )
    for mi, (a, b) in enumerate(merges):
        if mi and mi % 16 == 0:
            # bound plan depth: a large merge list otherwise nests one
            # HOF fold per merge into a single analyzer-hostile plan;
            # the cut is cheap (the frame is vocabulary-sized)
            dict_sym = materialize(dict_sym)
        dict_sym = dict_sym.withColumn("sym", F.expr(_bpe_fold_sql(a, b)))
    return (
        doc_words.join(F.broadcast(dict_sym), "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("sym").alias("s")))
                ).getField("s")
            ).alias("tokens")
        )
    )
