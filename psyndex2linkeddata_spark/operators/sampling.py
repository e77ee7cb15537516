"""Deterministic corpus sampling and mixing.

`df.sample()` is the wrong tool for a training corpus: its decisions
depend on partition layout and the run's seed plumbing, so a retry, a
resume, or a repartition changes WHICH rows survive. Here the keep
decision is a pure function of (salt, key) — the first 32 md5 bits of
the salted key against a rate threshold — so it is reproducible across
runs, executors, retries, and engines (the DuckDB oracle replays it
bit-for-bit), stable under checkpoint resume, and consistent across
tables sharing the key (sampling docs and their embeddings by the same
id keeps them aligned). Pure narrow filter: fuses into the scan, no
shuffle, pushdown-friendly at any scale.

Stratified rates are the corpus-mixing primitive ("web at 10%, wiki at
100%"): one literal-map lookup per row, same hash, no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HASH_SPACE = 1 << 32


def _key_hash32(key: Column, salt: str) -> Column:
    """First 32 bits of md5(salt:key) as bigint — identical arithmetic
    in DuckDB ('0x'||substr(md5(..),1,8))::bigint, so oracles replay
    every keep/drop decision."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling rates (corpus mixing). Strata
    missing from `rates` fall back to `default_rate` (0.0 = drop —
    explicit allow-listing, the safe default for a training mix)."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1]")
    thr: Column = F.lit(int(round(default_rate * _HASH_SPACE)))
    for stratum, rate in sorted(rates.items()):
        thr = (
            F.when(
                F.col(strata_col) == stratum,
                F.lit(int(round(rate * _HASH_SPACE))),
            ).otherwise(thr)
        )
    return df.where(_key_hash32(F.col(key_col), salt) < thr)
