"""Deterministic sampling operators (reference SURVEY.md §2.7).

The reference's coins (PowerOfTwoCoin, WeightedCoin) are seeded, but its
per-group reservoir sampler uses std::random_device (irreproducible —
cpp/streaming/transforms/StreamRandomNeighbour.h:40-59). Spark adds a second
hazard the reference never had: stage retries recompute partitions, so
``F.rand()`` can give a *different* answer on retry mid-algorithm. Every
random choice here is therefore a pure function of (seed, row key) via
xxhash64 — rerun-stable, retry-stable, resume-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# xxhash64 output is a signed 64-bit long; map to [0, 1) uniformly.
_TWO63 = float(2**63)


def hash_uniform(*cols: Column | str, seed: int = 42) -> Column:
    """U[0,1) as a pure function of (seed, columns) — the engine's only RNG."""
    h = F.xxhash64(F.lit(seed), *cols)
    return (h.cast("double") / F.lit(_TWO63) + F.lit(1.0)) / F.lit(2.0)


def bernoulli_coin(*cols: Column | str, p: float, seed: int = 42) -> Column:
    """Bernoulli(p) boolean column (cpp/sketches/WeightedCoin.h:9-32;
    PowerOfTwoCoin.h:10-47 is the p = 2^-k special case)."""
    return hash_uniform(*cols, seed=seed) < F.lit(p)


def bernoulli_split(
    df: DataFrame, *cols: str, p: float, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Route rows to (E1, E2) by a deterministic coin on the key columns.

    Reference: the KKT sample split (cpp/FunctionalSubproblemManager.h:785-805).
    Deliberately NOT DataFrame.randomSplit — that rescans nondeterministically
    unless the input is cached; this is a pure column predicate, so the two
    sides are consistent and disjoint by construction.
    """
    coin = bernoulli_coin(*cols, p=p, seed=seed)
    return df.filter(coin), df.filter(~coin)


def reservoir_per_group(
    df: DataFrame, group_col: str, pick_col: str, seed: int = 42
) -> DataFrame:
    """Uniform random pick of one row per group, deterministic.

    Reference: `sample_out_edges` / StreamRandomNeighbour single-pass
    reservoir with k=1 (cpp/contraction.hpp:8-26,
    cpp/streaming/transforms/StreamRandomNeighbour.h:13-201). Expressed as
    min_by over a hash ordering — stays a pure aggregation (map-side partial,
    no window sort, hub-skew safe).
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.min_by(
                pick_col, F.xxhash64(F.lit(seed), group_col, pick_col)
            ).alias(pick_col)
        )
    )
