"""Structured-streaming analytics over the events stream.

The reference's "streams" are EM iterator pipelines, not event-time streams
(SURVEY.md §2.9) — this module is the graft's event-time layer: watermarked
tumbling-window aggregation, session windows, and incremental edge ingest
(the streaming front door of the link-graph pipeline: micro-batches of edges
appended to the canonical edge table via foreachBatch upsert).

All builders accept any streaming DataFrame with the events schema
(event_id, ts, user_id, event_type, value, props); tests drive them with a
file source over the driver testdata and a memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LABELS_MANIFEST = "labels_manifest.json"


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window per-type counts with late-data watermarking."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> TZ
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (session_window gap semantics)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> TZ
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_edge_ingest(
    events: DataFrame,
    edge_table_path: str,
    checkpoint_dir: str,
    catalog=None,
    catalog_table: str | None = None,
):
    """Micro-batch edge ingest: consecutive same-user events become edges,
    canonicalized and appended to the edge table per batch.

    foreachBatch gives exactly-once append (per the sink's atomic commit) and
    lets each micro-batch reuse the full batch operator set — the idiomatic
    bridge from Structured Streaming into the iterative graph engine, which
    re-runs CC over the table on its own cadence.

    Sink (VERDICT r3 #8): by default micro-batches land as plain parquet at
    ``edge_table_path``. Pass ``catalog`` (a sources.catalog.EdgeCatalog)
    plus ``catalog_table`` to land them in the src-BUCKETED catalog table
    instead (overwrite on the first batch the table doesn't exist, append
    after): a continuously-ingested crawl then gets the exchange-free
    CC/PageRank entry for free — the iterative joins start from the on-disk
    HashPartitioning(src) layout with zero initial Exchange.
    """
    from ..operators.normalize import canonicalize

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        edges = (
            batch_df.select(
                "user_id",
                F.col("event_id").alias("src"),
                F.lead("event_id").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
            .select("src", "dst")
        )
        edges = canonicalize(edges)
        if catalog is not None:
            spark = batch_df.sparkSession
            mode = (
                "append"
                if spark.catalog.tableExists(catalog_table)
                else "overwrite"
            )
            catalog.write_bucketed(edges, catalog_table, mode=mode)
        else:
            edges.write.mode("append").parquet(edge_table_path)

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_label_maintenance(
    edge_stream: DataFrame,
    labels_root: str,
    checkpoint_dir: str,
    keep_versions: int = 2,
    **cc_kwargs,
):
    """Labels follow the crawl: a foreachBatch sink that keeps a (node, comp)
    component-label table current as edge micro-batches arrive.

    Composes the streaming front door with `plans/incremental`: the FIRST
    micro-batch is solved with the full engine; every later batch folds in
    via incremental_connected_components — carve the batch's slice of the
    current labels, solve the batch-bounded piece, compose. Labels
    after every epoch are bit-identical to a batch solve over all edges seen
    so far (min-member composition is exact; tests assert equality per epoch).

    Durability is RoundCheckpointer's (`checkpoint.Manifest`: Hadoop FS
    only, cluster portable): each epoch writes ``{labels_root}/v{epoch}``
    then atomically rename-commits a manifest pointing at it. Versioned
    dirs, never in-place overwrite — previously returned readers keep their
    file lists.
    At-least-once replay is safe WITHOUT epoch bookkeeping because folding a
    batch into labels that already include it is a mathematical no-op: every
    replayed edge lies inside one old component, so the piece's solve moves
    no label and finds no new node (the idempotency test pins this).

    ``keep_versions`` old label versions are retained (readers of the
    previous epoch may still be live); older dirs are deleted on commit.
    ``cc_kwargs`` pass through to both the initial solve and each delta solve.
    Returns a writeStream builder; pair with `.trigger(...)` + `.start()`.
    Read the current table any time with `current_labels(spark, labels_root)`.
    """
    from ..checkpoint import Manifest
    from ..operators.normalize import canonicalize
    from ..plans.connected_components import connected_components
    from ..plans.incremental import incremental_connected_components

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        store = Manifest(spark, labels_root, _LABELS_MANIFEST, None)
        edges = canonicalize(batch_df.select("src", "dst"))
        manifest = store.read()
        if manifest is not None:
            prior = spark.read.parquet(manifest["path"])
            labels = incremental_connected_components(prior, edges, **cc_kwargs)
            versions = manifest.get("versions", [])
        else:
            labels = connected_components(edges, pre_canonicalized=True,
                                          **cc_kwargs)
            versions = []
        vdir = store.at(f"v{epoch_id}")
        labels.write.mode("overwrite").parquet(vdir)
        versions.append({"epoch": epoch_id, "path": vdir})
        stale, versions = (
            versions[: -(keep_versions + 1)],
            versions[-(keep_versions + 1):],
        )
        store.commit({"path": vdir, "epoch": epoch_id, "versions": versions})
        # prune only AFTER the commit: a crash in between must never leave
        # the (old) manifest pointing at a deleted version dir
        for v in stale:
            store.fs.delete(v["path"], recursive=True)

    return (
        edge_stream.writeStream.outputMode("append")
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def current_labels(spark, labels_root: str) -> DataFrame | None:
    """Read the latest committed label table maintained by
    `streaming_label_maintenance`, or None before the first epoch commits."""
    from ..checkpoint import Manifest

    manifest = Manifest(spark, labels_root, _LABELS_MANIFEST, None).read()
    if manifest is None:
        return None
    return spark.read.parquet(manifest["path"])


def running_degree_monitor(
    edge_stream: DataFrame, hub_threshold: int = 1000
) -> DataFrame:
    """Custom stateful operator: per-node RUNNING degree over an edge stream,
    flagging nodes that cross the hub threshold.

    The applyInPandasWithState escape hatch (task-contract custom-stateful
    shape): state = one long per node (cumulative degree across all
    micro-batches so far), update mode emits a row per touched node per
    batch. This is the streaming twin of the CC loop's heavy-hitter trigger
    (plans/connected_components.py): a crawl-frontier pipeline watches hub
    formation online and the batch engine picks the detected hubs up for its
    heavy-split relabel path.

    Input: a STREAMING DataFrame with (src, dst) columns. Output:
    (node, total_deg, is_hub). The per-batch degree contribution counts both
    endpoints (undirected-degree semantics, matching aggregates.degrees).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # streaming symmetrize: self-union of the stream flips the edge once per
    # direction, so count-per-group = undirected degree contribution
    sym = edge_stream.select(F.col("src").alias("node")).unionAll(
        edge_stream.select(F.col("dst").alias("node"))
    )

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {
                "node": [key[0]],
                "total_deg": [total],
                "is_hub": [total >= hub_threshold],
            }
        )

    return sym.groupBy("node").applyInPandasWithState(
        update,
        outputStructType="node long, total_deg long, is_hub boolean",
        stateStructType="deg long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def collect_hub_seeds(monitor_sink: DataFrame, limit: int = 1024) -> list[int]:
    """Hub-id seed list from a ``running_degree_monitor`` sink table —
    the bridge into the batch engine: pass the result as
    ``connected_components(hub_seeds=...)`` so the first CC round arms its
    heavy-split relabel path with zero detect jobs (the monitor already paid
    for the degrees online, one micro-batch at a time).

    ``monitor_sink`` is any batch view over the monitor's output rows
    (memory sink table, parquet sink directory, ...); update-mode sinks emit
    one row per touched node per batch, so dedupe on node.
    """
    return [
        r["node"]
        for r in monitor_sink.filter(F.col("is_hub"))
        .select("node")
        .distinct()
        .limit(limit)
        .collect()
    ]
