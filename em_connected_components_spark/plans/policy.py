"""Contraction policies — the reference's adaptive variants (G9).

Reference: cpp/variants.hpp:5-89 — ten tuning policies deciding (a) whether
to contract at all this level, (b) how many nodes to aim for, (c) the
Bernoulli sampling power; plus the semi-external switch
(cpp/streaming/algorithms/Boruvka.h:83-85, `8 * 8B * n <= M`). In Spark the
memory threshold becomes an edge-count threshold (the one-task finish) and
the density tests stay verbatim: they are driver-side ifs fed by per-round
count() metrics — the engine's cost-based optimizer. The broadcast switch
is not a policy value: it stays byte-gated (tuning.broadcast_row_bound).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Policy:
    """Per-round decisions for the CC driver loop."""

    # finish in one executor task (vectorized union-find) when m <= this —
    # the Spark analogue of is_semi_externally_handleable (Boruvka.h:32-36,83-85)
    small_graph_edges: int = 200_000
    # density threshold: below it the graph is tree-ish and the cheap star
    # round wins; above it min-hooking collapses dense regions faster
    # (variants.hpp:15-21 uses m/n < 4 or 8 to decide *whether* to contract)
    star_density: float = 0.0  # 0 disables star rounds (default: boruvka-only)
    # driver shape: "iterative" = the flattened Boruvka loop; "kkt" = one
    # KKT sample-and-filter level (sample E1 ~ Bernoulli 2^-sample_power(n,m),
    # solve E1, relabel+filter E2 through E1's labels, solve the remainder,
    # compose — cpp/FunctionalSubproblemManager.h:430-757, run-fun-sibeyn.cpp).
    # Wins on DENSE graphs: the full m-row table is touched by ONE contract
    # instead of participating in every hooking round.
    # strategy="kkt" composes with a RoundCheckpointer since round 4: the
    # split / L1 / filter / L2 phases commit through checkpoint.
    # PhaseCheckpointer and the sub-solves run nested per-round
    # checkpointers, so a killed dense-graph run resumes mid-sub-solve
    # (kill-injection tests at every boundary in tests/test_checkpoint.py).
    strategy: str = "iterative"

    def contraction_strategy(self, n: int, m: int) -> str:
        """'boruvka' or 'star' for this round."""
        if self.star_density > 0 and n > 0 and (m / n) < self.star_density:
            return "star"
        return "boruvka"

    @staticmethod
    def sample_power(n: int, m: int) -> int:
        """nearest_power_reciprocal (variants.hpp:11-13): Bernoulli 2^-k
        sampling power for KKT-style edge splits."""
        if n <= 0 or m <= n:
            return 1
        return max(1, int(math.floor(math.log2(m / n))))
