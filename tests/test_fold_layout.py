"""A label table kept current by many small folds keeps one layout.

The kernel path of both folds hands back a table with the partition count of
the labels it was given, so a long run of micro-batch folds does not grow
the table by a partition (and every later fold by a task) per fold.
"""

from __future__ import annotations

import random

from em_connected_components_spark.plans.connected_components import (
    CCMetrics,
    connected_components,
)
from em_connected_components_spark.plans.decremental import (
    decremental_connected_components,
)
from em_connected_components_spark.plans.incremental import (
    incremental_connected_components,
)


def _df(spark, pairs):
    return spark.createDataFrame(sorted(pairs), "src long, dst long")


def _rows(df):
    return sorted((r["node"], r["comp"]) for r in df.collect())


def _canonical(pairs):
    return {(min(u, v), max(u, v)) for u, v in pairs if u != v}


def test_alternating_folds_keep_partition_count(spark):
    rng = random.Random(11)
    edges = _canonical((rng.randint(1, 150), rng.randint(1, 150))
                       for _ in range(120))
    labels = connected_components(_df(spark, edges), small_graph_threshold=0)
    labels = labels.localCheckpoint(eager=True)
    parts = labels.rdd.getNumPartitions()
    for i in range(30):
        m = CCMetrics()
        if i % 2 == 0:
            new = _canonical((rng.randint(1, 180), rng.randint(1, 180))
                             for _ in range(6))
            labels = incremental_connected_components(
                labels, _df(spark, new), pre_canonicalized=True, metrics=m)
            edges |= new
        else:
            removed = set(rng.sample(sorted(edges), 4))
            labels = decremental_connected_components(
                labels, _df(spark, edges), _df(spark, removed),
                pre_canonicalized=True, metrics=m)
            edges -= removed
        assert m.rounds[-1]["kind"] == "fold_kernel"
        # a caller keeping the table current materializes each version
        labels = labels.localCheckpoint(eager=True)
        assert labels.rdd.getNumPartitions() == parts, f"fold {i}"
    assert _rows(labels) == _rows(
        connected_components(_df(spark, edges), small_graph_threshold=0)
    )
