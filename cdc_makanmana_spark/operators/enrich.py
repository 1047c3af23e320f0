"""Enrichment joins (SURVEY.md J5-J8, P1/P9, EP3).

Parity targets:
- J5 ``getCoordinatesFromPostalCode`` (reference:
  src/utils/locationUtils.ts:56-74): exact postal lookup, else 3-digit
  prefix fallback, else a default constant.
- J7 ``enhanceMerchantWithExternalData`` (reference:
  src/services/externalData.ts:490-540): priority-ordered multi-source
  left-join enrichment with per-source degradation.

Scale design: every side table here is a dimension → broadcast joins
(no shuffle of the fact table). The reference's per-row HTTP fan-out
(3 external services per row, dataManager.ts:146-176) becomes
pre-materialized side tables joined in — never per-row RPCs inside a
task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def prefix_fallback_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    value_cols: list[str],
    prefix_len: int = 3,
    defaults: dict[str, float | str] | None = None,
) -> DataFrame:
    """Lookup join with prefix fallback and constant default.

    exact: fact.key == dim.key
    fallback: first dim row (min key) whose key prefix matches
    default: literal constants (locationUtils.ts:64-73 semantics —
    exact postal, else first 3-digit-prefix match, else the Singapore
    center constant).

    Both joins broadcast the dim, and BOTH tiers are pre-aggregated to
    one DETERMINISTIC representative row (lexicographic min over
    (key, *values)) so the lookup stays 1:1 with no fan-out even when
    the dim carries duplicate keys. min_by(value, key) is NOT enough:
    with duplicate keys the tie-break is engine/partition-order
    dependent — a 10× organic-scale oracle sweep caught exactly that
    (duplicate postals appear once the supplier pool outgrows the
    postal space, and Spark and DuckDB picked different rows).
    """
    rep = F.min(_representative(dim_key, value_cols))
    exact = dim.groupBy(F.col(dim_key).alias("__k")).agg(rep.alias("__xrep"))
    prefix = dim.groupBy(
        F.substring(F.col(dim_key), 1, prefix_len).alias("__p")
    ).agg(rep.alias("__prep"))

    out = fact.join(
        F.broadcast(exact), fact[fact_key] == exact["__k"], "left"
    ).join(
        F.broadcast(prefix),
        F.substring(fact[fact_key], 1, prefix_len) == prefix["__p"],
        "left",
    )
    for c in value_cols:
        out = out.withColumn(c, _tiered(c, defaults))
    return out.drop("__k", "__p", "__xrep", "__prep")


def prefix_fallback_lookup(
    dim: DataFrame,
    dim_key: str,
    key: str,
    value_cols: list[str],
    prefix_len: int = 3,
    defaults: dict[str, float | str] | None = None,
) -> Row:
    """:func:`prefix_fallback_join` for ONE key of at least
    ``prefix_len`` characters, collected eagerly: a Row of
    ``value_cols`` equal to what the join gives a fact row carrying
    ``key``.

    One aggregate over the dim rows that share the key's prefix computes
    both tiers at once (exact: the representative of the rows whose key
    equals ``key``; prefix: the representative of all of them), then the
    same per-column coalesce applies. ``startswith`` reaches a parquet
    scan as a pushed filter. Against a one-row fact frame the join form
    runs 6 jobs; this aggregate runs 2 (its partial stage and its
    result)."""
    rep = _representative(dim_key, value_cols)
    k = F.col(dim_key)
    return (
        dim.filter(k.startswith(key[:prefix_len]))
        .agg(
            F.min(F.when(k == key, rep)).alias("__xrep"),
            F.min(rep).alias("__prep"),
        )
        .select(*[_tiered(c, defaults).alias(c) for c in value_cols])
        .first()
    )


def _representative(dim_key: str, value_cols: list[str]) -> Column:
    """The struct whose min picks a tier's representative dim row (see
    :func:`prefix_fallback_join`)."""
    return F.struct(F.col(dim_key), *[F.col(c) for c in value_cols])


def _tiered(c: str, defaults: dict[str, float | str] | None) -> Column:
    """Column ``c`` of the exact tier (``__xrep``), else of the prefix
    tier (``__prep``), else its default."""
    chain: list[Column] = [F.col("__xrep").getField(c), F.col("__prep").getField(c)]
    if defaults and c in defaults:
        chain.append(F.lit(defaults[c]))
    return F.coalesce(*chain)


def priority_coalesce_enrich(
    fact: DataFrame,
    sources: list[tuple[DataFrame, str]],
    fact_key: str,
    source_key: str,
    value_cols: list[str],
    provenance_col: str | None = None,
) -> DataFrame:
    """Multi-source left-join enrichment with priority fallback.

    ``sources`` is ordered highest-priority first (the reference tries
    Google, then OneMap, then MUIS — externalData.ts:495-532); for each
    value column the result is ``coalesce(src1.v, src2.v, ...)``, and
    ``provenance_col`` (optional) records which source won — the
    engine's version of the reference's ``halalSource`` provenance
    logging (dataManager.ts:20).

    Each source is deduplicated to one row per key (min-by key order is
    deterministic) and broadcast — per-source error isolation means a
    missing/empty source table degrades to nulls, exactly like the
    reference's per-source try/catch passthrough.
    """
    out = fact
    for df_src, name in sources:
        dedup = df_src.groupBy(F.col(source_key).alias(f"__k_{name}")).agg(
            *[F.min_by(F.col(c), F.col(source_key)).alias(f"__{name}_{c}") for c in value_cols]
        )
        out = out.join(
            F.broadcast(dedup), out[fact_key] == dedup[f"__k_{name}"], "left"
        ).drop(f"__k_{name}")

    names = [name for _, name in sources]
    for c in value_cols:
        out = out.withColumn(c, F.coalesce(*[F.col(f"__{n}_{c}") for n in names]))
    if provenance_col:
        prov = F.lit(None).cast("string")
        for n in reversed(names):
            first_val = F.coalesce(*[F.col(f"__{n}_{c}") for c in value_cols])
            prov = F.when(first_val.isNotNull(), F.lit(n)).otherwise(prov)
        out = out.withColumn(provenance_col, prov)
    return out.drop(*[f"__{n}_{c}" for n in names for c in value_cols])
