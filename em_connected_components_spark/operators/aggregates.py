"""Aggregation operators (reference SURVEY.md §2.4).

Everything here is a single declarative groupBy/agg — map-side partial
aggregation makes these skew-safe (a hub key combines locally before the
shuffle), which is why the engine prefers groupBy over join wherever the
reference used a group-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import symmetrize


def node_count_exact(edges: DataFrame) -> DataFrame:
    """Exact distinct endpoint count (cpp/util.hpp:86-153 external/internal_number_of_nodes)."""
    return (
        symmetrize(edges)
        .agg(F.countDistinct("src").alias("n_nodes"))
    )


def max_node_id(edges: DataFrame) -> DataFrame:
    """Max endpoint id (cpp/max-node-id.cpp:23-29)."""
    return edges.agg(F.max(F.greatest("src", "dst")).alias("max_node_id"))


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree over the undirected graph (cpp/degrees.cpp:13-31)."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("degree"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """degree -> frequency (cpp/degree_distr.cpp:54-75)."""
    return degrees(edges).groupBy("degree").agg(F.count("*").alias("n_nodes"))


def min_neighbor(edges: DataFrame) -> DataFrame:
    """Per-node minimum neighbor over the symmetrized graph — the Boruvka
    hook choice (cpp/streaming/contraction/BoruvkaContraction.h:122-133)."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_neighbor"))
    )


def max_neighbor(edges: DataFrame) -> DataFrame:
    """Per-node maximum neighbor — the Sibeyn hook choice
    (cpp/sibeyn.hpp:133-143, cpp/streaming/algorithms/Sibeyn.hpp:186-208)."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.max("dst").alias("max_neighbor"))
    )


def component_sizes(labels: DataFrame) -> DataFrame:
    """Component -> member count (cpp/check-stars.cpp:16-61)."""
    return labels.groupBy("comp").agg(F.count("*").alias("size"))


def component_size_histogram(labels: DataFrame) -> DataFrame:
    """Component-size -> frequency (cpp/check-stars.cpp:16-61)."""
    return component_sizes(labels).groupBy("size").agg(
        F.count("*").alias("n_components")
    )


def edge_quality_metrics(raw_edges: DataFrame) -> DataFrame:
    """Ingest-time counters: total, self-loops, duplicate multi-edges.

    The reference counts these while streaming into EdgeStream
    (cpp/streaming/containers/EdgeStream.h:76-87,137-143); one aggregate pass
    here.
    """
    e = raw_edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    per_pair = e.groupBy("a", "b").agg(F.count("*").alias("n"))
    return per_pair.agg(
        F.sum("n").alias("n_edges_raw"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0)).alias(
            "n_self_loops"
        ),
        F.sum(
            F.when(F.col("a") != F.col("b"), F.col("n") - 1).otherwise(0)
        ).alias("n_duplicates"),
        F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0)).alias(
            "n_edges_unique"
        ),
    )
