"""Persisted MinHash signature index — the incremental-dedup artifact.

``dedup_against_corpus`` (dedup.py) recomputes the corpus's
fingerprints and MinHash signatures on every ingest; its docstring
notes that in production those are a build artifact maintained
incrementally. This module IS that artifact: a parquet-backed index
holding, per kept document,

- ``fp``       — md5 content fingerprint (exact-dup tier),
- ``signature``— MinHash signature array (LSH candidate tier),
- ``sh``       — xxhash64'd distinct word shingles (exact-Jaccard
                 rerank WITHOUT the original text: Jaccard over
                 distinct 64-bit shingle hashes equals Jaccard over
                 the shingle strings up to hash collisions — the same
                 trade ``ngram_jaccard_pairs`` already makes when it
                 shuffles hashes instead of strings),

plus a pre-exploded ``buckets`` table (band, bucket, id) so each
ingest joins the batch's buckets straight against stored buckets —
steady-state cost is O(|batch|) signature computation plus one
equi-join against the index; the corpus text is never re-read.

Layout & idempotency: each append writes ``docs/b{batch_id}`` and
``buckets/b{batch_id}`` WRITE-ONCE, commit-marked (buckets first,
docs last — the docs marker is the batch's commit point, readers see
committed dirs only). A foreachBatch retry of a committed batch is a
no-op (rewriting it from the retry's re-dedup — which sees the
batch's own rows — would wipe its entries); a retry of a crashed,
uncommitted append overwrites the unmarked leftovers. ``ingest`` is
the composed foreachBatch body with the recovery path. ``scrub`` and
``compact`` rewrite committed dirs with the swap and fold shapes of the
engine's commit protocol (described once, in ``cdc_makanmana_spark.fs``).
Readers list batch directories through the Hadoop FS API. Every
shuffle key in the dedup path is an 8-byte hash. At 100 TB the batch
directories would graduate to a single bucketed table (band, bucket
as the bucketing key — sources/layout.py) compacted periodically
(sources/maintenance.py), which this per-batch layout is the
append-friendly precursor of; Spark's multi-root partition discovery
rules out partitionBy inside per-batch dirs, so band stays a plain
column here.

Reference analogue: the TTL'd verdict cache as a persistent lookup
artifact (src/services/externalData.ts:191-224) — here the "cache" is
the corpus's similarity structure rather than per-entity verdicts.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_makanmana_spark import fs
from cdc_makanmana_spark.functions.text import doc_fingerprint
from cdc_makanmana_spark.operators.dedup import (
    _band_buckets,
    _drop_blank_text,
    _spread,
    materialize,
    minhash_signatures,
    word_shingles,
)

_META = "_index_meta.json"
_SCRUB_STAGING = ".__scrubstg_"
_SCRUB_OLD = ".__scrubold_"
_CMP_STAGING = ".__cmpstg_base"
_MANIFEST = fs.FOLD_MANIFEST


def _shingle_hashes(text_col, shingle_n: int):
    return F.transform(word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s))


class SignatureIndex:
    """Incrementally maintained dedup index over a growing corpus.

    Parameters are pinned in a sidecar on first use; reopening with
    different parameters raises (mixed-parameter signatures silently
    stop matching — fail loudly instead).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 32,
        bands: int = 16,
        shingle_n: int = 3,
    ):
        if num_hashes % bands != 0:
            raise ValueError(f"num_hashes ({num_hashes}) must divide into bands ({bands})")
        self.spark = spark
        self.path = path.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        params = {
            "text_col": text_col,
            "id_col": id_col,
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
        }
        raw = fs.read_text(spark, f"{self.path}/{_META}")
        if raw is None:
            fs.mkdirs(spark, self.path)
            fs.write_text(spark, f"{self.path}/{_META}", json.dumps(params))
        elif json.loads(raw) != params:
            raise ValueError(
                f"SignatureIndex at {self.path} was built with {json.loads(raw)}, "
                f"reopened with {params}; signatures would not match"
            )

    # ---- storage ----------------------------------------------------------

    def _batch_names(self, sub: str) -> list[str]:
        """COMMITTED batch dirs only — a crash mid-append leaves an
        unmarked directory that must stay invisible to readers (same
        reader rule as the versioned snapshot caches). A crashed
        ``scrub`` is healed first: its staging/old leftovers are
        dot-prefixed so they can never be mistaken for batch dirs, and
        ``_repair_scrub`` finishes or rolls back the interrupted swap
        before the listing is trusted."""
        root = f"{self.path}/{sub}"
        if not fs.exists(self.spark, root):
            return []
        names = fs.list_names(self.spark, root, dirs_only=True)
        if any(n.startswith((_SCRUB_STAGING, _SCRUB_OLD)) for n in names):
            self._repair_scrub(root, names)
            names = fs.list_names(self.spark, root, dirs_only=True)
        if _CMP_STAGING in names:
            fs.heal_fold(self.spark, f"{root}/{_CMP_STAGING}", f"{root}/base")
            names = fs.list_names(self.spark, root, dirs_only=True)
        return sorted(
            n
            for n in names
            if n.startswith("b") and fs.is_committed(self.spark, f"{root}/{n}")
        )

    def _repair_scrub(self, root: str, names: list[str]) -> None:
        """Heal every crash window of a per-batch scrub rewrite
        (``fs.repair_swap`` on each batch with leftovers)."""
        stag = {n[len(_SCRUB_STAGING):] for n in names if n.startswith(_SCRUB_STAGING)}
        olds = {n[len(_SCRUB_OLD):] for n in names if n.startswith(_SCRUB_OLD)}
        for b in stag | olds:
            fs.repair_swap(
                self.spark,
                f"{root}/{b}",
                f"{root}/{_SCRUB_STAGING}{b}",
                f"{root}/{_SCRUB_OLD}{b}",
            )

    def _read(self, sub: str) -> DataFrame | None:
        names = self._batch_names(sub)
        if not names:
            return None
        # mergeSchema: the union must carry the SUPERSET of the batch
        # dirs' schemas — a single-dir sample schema would silently
        # drop (or NULL-fill) columns added since older batches were
        # written, and ingest()'s folded-batch recovery keys on the
        # src_batch provenance column being present and populated.
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*[f"{self.path}/{sub}/{n}" for n in names])
        )

    def docs(self) -> DataFrame | None:
        """(id, fp, signature, sh) for every indexed doc, or None."""
        return self._read("docs")

    def buckets(self) -> DataFrame | None:
        """(band, bucket, id) LSH postings, or None."""
        return self._read("buckets")

    # ---- writes -----------------------------------------------------------

    def _entries(self, df: DataFrame) -> DataFrame:
        """Per-doc index rows. ``fp`` covers every row (NULL text →
        NULL fp, matching the operator blank policy); signature and
        shingle hashes exist only for non-blank texts."""
        ids = df.select(
            F.col(self.id_col).alias("id"),
            doc_fingerprint(F.col(self.text_col)).alias("fp"),
        )
        sig = minhash_signatures(
            _spread(df), self.text_col, self.id_col, self.num_hashes, self.shingle_n
        ).select(F.col("__id").alias("id"), "signature")
        sh = _drop_blank_text(df, self.text_col).select(
            F.col(self.id_col).alias("id"),
            _shingle_hashes(F.col(self.text_col), self.shingle_n).alias("sh"),
        )
        return ids.join(sig, "id", "left").join(sh, "id", "left")

    def _is_appended(self, batch_id: int) -> bool:
        return fs.is_committed(
            self.spark, f"{self.path}/docs/b{batch_id}"
        ) or f"b{batch_id}" in self._folded_ids("docs")

    def append(self, df: DataFrame, batch_id: int, _entries: DataFrame | None = None) -> None:
        """Index ``df``'s docs under ``batch_id``. WRITE-ONCE per
        batch_id: if this batch already committed, the call is a no-op
        — a retry must never rewrite a completed batch, because on the
        retry the batch's own rows are already in the index, the
        re-run dedup yields zero survivors, and an overwrite would
        silently WIPE the batch's entries (every future duplicate of
        them would then pass dedup). Write order is buckets → docs,
        each marked after its write, so the docs marker is the batch's
        commit point (docs committed ⇒ buckets committed); a crash
        anywhere mid-append leaves only unmarked dirs, which readers
        ignore and the retry overwrites."""
        if self._is_appended(batch_id):
            return
        entries = materialize(self._entries(df)) if _entries is None else _entries
        # provenance column: lets ingest() recover a batch's survivors
        # from a compacted base after the per-batch dir is folded away
        entries = entries.withColumn("src_batch", F.lit(int(batch_id)))
        rows_per_band = self.num_hashes // self.bands
        buckets = _band_buckets(
            entries.filter(F.col("signature").isNotNull()).select(
                F.col("id").alias("__id"), "signature"
            ),
            self.bands,
            rows_per_band,
        ).select("band", "bucket", F.col("__id").alias("id"))
        bdir = f"{self.path}/buckets/b{batch_id}"
        ddir = f"{self.path}/docs/b{batch_id}"
        buckets.write.mode("overwrite").parquet(bdir)
        fs.mark_committed(self.spark, bdir)
        entries.write.mode("overwrite").parquet(ddir)
        fs.mark_committed(self.spark, ddir)

    def _folded_ids(self, sub: str) -> set[str]:
        """Batch dir names recorded as folded into ``{sub}/base`` —
        the memory that keeps the write-once append guard working
        after their directories are compacted away."""
        raw = fs.read_text(self.spark, f"{self.path}/{sub}/base/{_MANIFEST}")
        if raw is None:
            return set()
        return {n for n in raw.split("\n") if n and not n.startswith("#")}

    def compact(self) -> int:
        """Fold every committed per-batch dir (and any previous base)
        into ONE ``base`` dir per side — the periodic maintenance the
        per-batch append layout is the precursor of (the module
        docstring's "compacted periodically": a continuously-ingesting
        stream otherwise accumulates one dir per micro-batch and scan
        planning degrades long before data volume does). The base
        carries a manifest of every batch name ever folded, so
        ``_is_appended`` (the double-count guard) and ``ingest``'s
        retry recovery (via the ``src_batch`` provenance column)
        survive compaction. Installed as a manifest fold
        (``fs.install_fold``), healed on any read — a crash can never
        serve a batch twice or lose one.
        Returns the number of dirs folded (0 = nothing to do)."""
        total = 0
        for sub in ("docs", "buckets"):
            root = f"{self.path}/{sub}"
            names = self._batch_names(sub)  # heals crashed scrub/compact
            if len(names) <= 1:
                continue
            carried = self._folded_ids(sub)
            folded = carried | {n for n in names if n != "base"}
            staging = f"{root}/{_CMP_STAGING}"
            fs.delete(self.spark, staging)
            union = self.spark.read.option("mergeSchema", "true").parquet(
                *[f"{root}/{n}" for n in names]
            )
            if sub == "docs":
                # Provenance guard: after the fold, the ONLY record of
                # which batch a doc came from is src_batch — a NULL
                # (schema drift, a dir written by older code) would make
                # ingest()'s folded-batch recovery return zero survivors
                # and silently drop a retried batch wholesale. Refuse to
                # fold rather than corrupt the recovery path.
                if "src_batch" not in union.columns or union.filter(
                    F.col("src_batch").isNull()
                ).limit(1).count():
                    raise ValueError(
                        f"refusing to compact {root}: docs rows with missing/NULL "
                        "src_batch provenance (batch dirs written by an "
                        "incompatible index version?) — rebuild or backfill "
                        "src_batch before folding"
                    )
            union.write.mode("overwrite").parquet(staging)
            fs.install_fold(
                self.spark,
                staging,
                f"{root}/base",
                "\n".join(sorted(names)) + "\n#ids\n" + "\n".join(sorted(folded)),
            )
            total += len(names)
        return total

    # ---- compliance -------------------------------------------------------

    def scrub(self, ids: list) -> dict:
        """Right-to-be-forgotten propagation into the derived artifact:
        remove every doc row and LSH posting for ``ids`` — the
        companion to ``sources.maintenance.scrub_rows`` on the corpus
        table itself (erasing the corpus row is not enough: the index
        stores the doc's fingerprint, signature, and shingle hashes,
        and would keep silently suppressing future ingests of
        identical content, i.e. keep ACTING on the erased text).

        ``ids`` is a plain list — erasure requests are tiny by
        contract, and the literal set pushes down into each batch
        scan. Each touched batch directory is rewritten via the
        two-rename swap (``fs.swap_in``); staging/old names are
        dot-prefixed so readers can never list them as batch dirs, and
        every crash window is healed by ``_repair_scrub`` (invoked on
        every read and at scrub start). Run in a maintenance window —
        the swap has the same brief directory-absent instant as
        ``compact_parquet``. Batches the ids never touched are not
        rewritten (their files are read but pruned by the pushed
        ``id IN`` filter's stats). Returns
        ``{"docs_removed", "postings_removed", "batches_rewritten"}``.
        """
        ids = sorted(set(ids))
        if not ids:
            return {"docs_removed": 0, "postings_removed": 0, "batches_rewritten": 0}
        stats = {"docs_removed": 0, "postings_removed": 0, "batches_rewritten": 0}
        for sub, counter in (("docs", "docs_removed"), ("buckets", "postings_removed")):
            root = f"{self.path}/{sub}"
            for b in self._batch_names(sub):  # heals crashed scrubs first
                p = f"{root}/{b}"
                df = self.spark.read.parquet(p)
                n_before = df.count()
                n_hit = df.filter(F.col("id").isin(ids)).count()
                if n_hit == 0:
                    continue
                staging = f"{root}/{_SCRUB_STAGING}{b}"
                old = f"{root}/{_SCRUB_OLD}{b}"
                fs.delete(self.spark, staging)
                kept = df.filter(~F.col("id").isin(ids))
                kept.write.mode("overwrite").parquet(staging)
                manifest = fs.read_text(self.spark, f"{p}/{_MANIFEST}")
                if manifest is not None:
                    # the base dir's folded-batch memory must survive
                    # the rewrite or the write-once append guard forgets
                    fs.write_text(self.spark, f"{staging}/{_MANIFEST}", manifest)
                n_staged = self.spark.read.parquet(staging).count()
                if n_staged + n_hit != n_before:
                    fs.delete(self.spark, staging)
                    raise RuntimeError(
                        f"index scrub aborted on {p}: staged {n_staged} + "
                        f"hit {n_hit} != before {n_before}; batch untouched"
                    )
                fs.swap_in(self.spark, p, staging, old)
                stats[counter] += n_hit
                stats["batches_rewritten"] += 1
        return stats

    # ---- the ingest-side dedup -------------------------------------------

    def _dedup(
        self, batch: DataFrame, threshold: float, materialize_sig: bool = True
    ):
        """(survivors, bsig) — bsig is the survivor signature table
        (None when the index is empty), reusable by ``ingest`` so
        indexing never recomputes the MinHash pass.

        ``materialize_sig=False`` keeps bsig LAZY (r11, guide §5):
        inside this method the signature table has exactly ONE
        consumer — the band-bucket explode — so the eager
        ``localCheckpoint`` is a pure driver barrier serializing the
        anti-join → signature chain ahead of the candidate join for
        read-only callers (``dedup_batch``). Lazy, the whole dedup is
        one job whose independent subtrees (fingerprint anti-join,
        signature explode, stored-index scans) the scheduler overlaps
        — measured on q50 at sf0.1 med 3.74 → 3.19 s and ×10 organic
        med 4.99 → 4.72 s, rows identical at both scales. ``ingest``
        keeps the default: it REUSES bsig for the index entries, and
        re-deriving signatures lazily twice would re-pay the shingle
        explode per consumer."""
        docs = self.docs()
        if docs is None:
            return batch, None
        fp = doc_fingerprint(F.col(self.text_col))
        known_fp = docs.select("fp").filter(F.col("fp").isNotNull()).distinct()
        survivors = (
            batch.withColumn("__fp", fp)
            .join(known_fp.withColumnRenamed("fp", "__fp"), "__fp", "left_anti")
            .drop("__fp")
        )
        bsig = minhash_signatures(
            _spread(survivors), self.text_col, self.id_col,
            self.num_hashes, self.shingle_n,
        )
        if materialize_sig:
            bsig = materialize(bsig)
        ib = self.buckets()
        if ib is None:
            return survivors, bsig
        rows_per_band = self.num_hashes // self.bands
        bb = _band_buckets(bsig, self.bands, rows_per_band).select(
            F.col("__id").alias("__bid"), "band", "bucket"
        )
        cand = (
            bb.join(
                ib.select("band", "bucket", F.col("id").alias("__cid")),
                ["band", "bucket"],
            )
            .select("__bid", "__cid")
            .dropDuplicates(["__bid", "__cid"])
        )
        sh_b = _drop_blank_text(survivors, self.text_col).select(
            F.col(self.id_col).alias("__bid"),
            _shingle_hashes(F.col(self.text_col), self.shingle_n).alias("__shb"),
        )
        sh_c = docs.filter(F.col("sh").isNotNull()).select(
            F.col("id").alias("__cid"), F.col("sh").alias("__shc")
        )
        inter = F.size(F.array_intersect("__shb", "__shc")).cast("double")
        drop = (
            cand.join(sh_b, "__bid")
            .join(sh_c, "__cid")
            .withColumn("__j", inter / (F.size("__shb") + F.size("__shc") - inter))
            .filter(F.col("__j") >= threshold)
            .select(F.col("__bid").alias(self.id_col))
            .distinct()
        )
        return survivors.join(drop, self.id_col, "left_anti"), bsig

    def dedup_batch(self, batch: DataFrame, threshold: float = 0.8) -> DataFrame:
        """Batch rows that survive against the INDEX (exact fingerprint
        tier, then LSH candidates + exact Jaccard over stored shingle
        hashes). The corpus's text is never touched — only its stored
        signatures. Same semantics as ``dedup_against_corpus`` minus
        the corpus recompute; within-batch duplicates survive (dedup
        the batch separately if ingest order matters). Signatures stay
        lazy here — read-only serving has no reuse for them (see
        ``_dedup``)."""
        return self._dedup(batch, threshold, materialize_sig=False)[0]

    def ingest(self, batch: DataFrame, batch_id: int, threshold: float = 0.8) -> DataFrame:
        """The foreachBatch body: dedup ``batch`` against the index,
        append the survivors' entries (REUSING the dedup pass's
        signatures — the MinHash computation runs once per batch, not
        twice), and return the materialized survivors for the caller's
        corpus sink.

        Retry contract: the index append is the batch's commit record.
        A retry of an already-committed batch recovers the original
        survivors from the stored entries instead of re-deduping (the
        batch's own rows are in the index by then, so a re-dedup would
        wrongly yield zero). Callers must make their OWN sink
        idempotent per batch_id — e.g. overwrite a per-batch corpus
        directory — since this method cannot transact across two
        stores."""
        if self._is_appended(batch_id):
            bdir = f"{self.path}/docs/b{batch_id}"
            if fs.is_committed(self.spark, bdir):
                kept = self.spark.read.parquet(bdir)
            else:  # folded into base by compact(); recover by provenance
                kept = self.docs().filter(F.col("src_batch") == int(batch_id))
            kept = kept.select(F.col("id").alias(self.id_col))
            return batch.join(kept, self.id_col, "left_semi")
        survivors, bsig = self._dedup(batch, threshold)
        survivors = materialize(survivors)
        if bsig is None:
            entries = materialize(self._entries(survivors))
        else:
            nonblank = F.col(self.text_col).isNotNull() & (
                F.trim(F.col(self.text_col)) != ""
            )
            base = survivors.select(
                F.col(self.id_col).alias("id"),
                doc_fingerprint(F.col(self.text_col)).alias("fp"),
                F.when(
                    nonblank, _shingle_hashes(F.col(self.text_col), self.shingle_n)
                ).alias("sh"),
            )
            entries = materialize(
                base.join(
                    bsig.select(F.col("__id").alias("id"), "signature"), "id", "left"
                )
            )
        self.append(survivors, batch_id, _entries=entries)
        return survivors
