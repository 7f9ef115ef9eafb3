"""Structured Streaming ingest of the image+caption table shape.

The reference's "streaming" is bounded multi-pass iteration over a file, not
event-time streaming (/root/reference/src/lmw/StreamingEMTree.h:452-455 — chunked
pull, order-irrelevant), so the clustering itself stays iterative batch. What a
production deployment streams is the INGEST: new images land continuously and are
appended to the input table, which the batch pipeline then re-clusters (the
reference's mini-batch mode, StreamingEMTreeExperiments.h:143-189, maps to running
the EM update per ingested batch).

``stream_images`` wires a rate-source → deterministic generator → parquet/Iceberg
append via ``foreachBatch``; ``stream_em_updates`` runs the reference's mini-batch
EM as a stream — one distributed accumulate + centroid update per micro-batch,
with per-batch durable tree commits and restart-safe resume (``latest_tree``);
``stream_event_counts`` shows an event-time windowed aggregation (watermark +
tumbling window) over the ingest stream for monitoring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lmw_tree_spark.sources.images import IMAGES_SCHEMA, generate_batch


def stream_images(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    rows_per_second: int = 100,
):
    """rate source → synthetic image rows → append to a parquet table.

    Returns the StreamingQuery; caller stops it. Row indices come from the rate
    source's monotonically increasing ``value``, so ingest is deterministic and
    restart-safe (checkpointed offsets resume exactly).

    Generation runs ON THE EXECUTORS: the rate rows flow through an
    Arrow-batched ``mapInPandas`` that synthesizes image rows per partition, so
    the driver never materializes a micro-batch — at a real firehose rate the
    generator (in production: the decoder/normalizer) scales with the source's
    partition count, not driver throughput."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()

    def gen_rows(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            yield generate_batch(pdf["value"].to_numpy(dtype=np.int64))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.select("value")
            .mapInPandas(gen_rows, IMAGES_SCHEMA)
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        rate.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="2 seconds")
        .start()
    )


def stream_em_updates(
    spark: SparkSession,
    sig_stream: DataFrame,
    seed_tree,
    tree_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Streaming EM-tree updates: one centroid update per micro-batch.

    The streaming counterpart of the reference's mini-batch mode
    (/root/reference/src/StreamingEMTreeExperiments.h:143-189 — insert a bounded
    batch, then ``update()``): each micro-batch of signature rows runs the
    distributed accumulate pass against the CURRENT broadcast tree, the driver
    finalizes majority prototypes + prunes, and the new tree is checkpointed as
    rows before the next batch. Restart-safe two ways: Spark's streaming
    checkpoint replays unprocessed source batches, and ``latest_tree`` reloads
    the last committed tree so updates resume from where they stopped.

    Returns the StreamingQuery; caller stops it. ``sig_stream`` needs the
    ``sig array<long>`` column (e.g. ingest parquet → ``extract_signatures``
    applied to the stream — mapInPandas works on streaming DataFrames).
    """
    import os

    from lmw_tree_spark.operators import emtree
    from lmw_tree_spark.operators.tree import update_tree

    state = {"tree": latest_tree(spark, tree_dir) or seed_tree}

    def update_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a batch can be replayed after the parquet
        # write succeeded but before the offset commit. The per-batch commit is
        # therefore idempotent two ways: (a) a replayed batch whose directory
        # already carries _SUCCESS RELOADS the committed tree instead of
        # re-applying the EM update on top of a tree that already includes it;
        # (b) the write itself is mode('overwrite') into the batch directory, so
        # a half-written directory (no _SUCCESS) is replaced, never appended to.
        batch_path = os.path.join(tree_dir, f"batch={batch_id}")
        if os.path.exists(os.path.join(batch_path, "_SUCCESS")):
            committed = _read_tree(spark, batch_path)
            if committed is not None:
                state["tree"] = committed
            return
        bc = spark.sparkContext.broadcast(state["tree"])
        try:
            sums, counts, _sse = emtree._accumulate_pass(batch_df.select("sig"), bc)
        finally:
            bc.unpersist()
        if counts.sum() == 0:
            return
        state["tree"] = update_tree(state["tree"], sums, counts)
        frame = state["tree"].to_frame()
        frame.insert(0, "tree_order", np.int32(state["tree"].order))
        frame.insert(0, "batch_id", np.int64(batch_id))
        (
            spark.createDataFrame(
                frame,
                "batch_id long, tree_order int, level int, node_id long, "
                "parent_id long, centroid array<long>",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(batch_path)
        )

    writer = sig_stream.writeStream.foreachBatch(update_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = trigger or {"processingTime": "5 seconds"}
    return writer.trigger(**trigger).start()


def _read_tree(spark: SparkSession, path: str):
    """Read one committed batch directory back into a CentroidTree.

    The configured tree order travels WITH the rows (``tree_order`` column) — an
    underfull early-stream tree restores with the order it was built with, not
    one inferred from its current fan-out (which would silently cap later
    splits). Legacy directories without the column fall back to max-fanout
    inference."""
    from lmw_tree_spark.operators.tree import CentroidTree

    df = spark.read.parquet(path)
    rows = df.collect()
    if not rows:
        return None
    if "tree_order" in df.columns:
        order = int(rows[0]["tree_order"])
    else:  # legacy commit without the persisted order
        order = max(
            (len([r for r in rows if r["parent_id"] == p]) for p in {r["parent_id"] for r in rows}),
            default=2,
        )
    return CentroidTree.from_rows(
        [(r["level"], r["node_id"], r["parent_id"], r["centroid"]) for r in rows],
        order=order,
    )


def latest_tree(spark: SparkSession, tree_dir: str):
    """Load the highest-batch committed tree from ``tree_dir`` (None if empty)."""
    import os

    if not os.path.isdir(tree_dir):
        return None
    batches = sorted(
        (int(d.split("=")[1]), d)
        for d in os.listdir(tree_dir)
        if d.startswith("batch=")
    )
    for _bid, d in reversed(batches):
        path = os.path.join(tree_dir, d)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        tree = _read_tree(spark, path)
        if tree is not None:
            return tree
    return None


DEDUP_STATE_SCHEMA = "canonical_id string, n_seen long"
DEDUP_OUT_SCHEMA = "fingerprint long, canonical_id string, n_seen long"


def stream_dedup_groups(sig_stream: DataFrame, fingerprint_col: str = "phash"):
    """Stateful streaming exact-dedup: per-fingerprint dup groups maintained
    across micro-batches with ``applyInPandasWithState``.

    State per fingerprint = (canonical id = min image_id seen so far, running
    count). Every batch that touches a fingerprint emits one UPDATE row
    (fingerprint, canonical_id, n_seen) — the streaming counterpart of
    ``dedup.exact_dedup_groups``: a consumer keeps only rows whose image_id
    equals the canonical id (first-seen wins, stable under replay because min
    is idempotent). State size is O(distinct fingerprints), the same footprint
    a batch groupBy would shuffle; no timeout is set because a dup can arrive
    arbitrarily late (bound it with a timeout when fingerprints have TTL
    semantics)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    def update(key, pdfs, state):
        ids: list[str] = []
        for pdf in pdfs:
            ids.extend(pdf["image_id"].tolist())
        if state.exists:
            canonical, n = state.get
        else:
            canonical, n = None, 0
        if ids:
            newest = min(ids)
            canonical = newest if canonical is None else min(canonical, newest)
            n += len(ids)
        state.update((canonical, n))
        yield pd.DataFrame(
            {"fingerprint": [key[0]], "canonical_id": [canonical], "n_seen": [n]}
        )

    return (
        sig_stream.select(
            F.col(fingerprint_col).cast("long").alias("fingerprint"), "image_id"
        )
        .groupBy("fingerprint")
        .applyInPandasWithState(
            update,
            DEDUP_OUT_SCHEMA,
            DEDUP_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


NEARDUP_OUT_SCHEMA = "src long, dst long, dist long"
NEARDUP_STATE_SCHEMA = "hashes array<long>, ids array<long>"


def stream_neardup_edges(
    sig_stream: DataFrame,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    max_dist: int = 6,
    n_bands: int = 4,
    state_cap: int = 4096,
) -> DataFrame:
    """Stateful streaming PERCEPTUAL near-dup — the Hamming extension of
    ``stream_dedup_groups``' exact-fingerprint state: each row explodes into
    ``n_bands`` pigeonhole bit-slice keys (pure JVM, the same bucketing as
    the batch ``simhash_dedup``); per band bucket the state carries the
    (hash, id) pairs seen so far, and every arrival emits a verified edge
    ``(src, dst, dist ≤ max_dist)`` against all prior bucket members — so
    the distinct streamed edge SET equals the batch band algebra ("pairs
    sharing ≥ 1 band, bit_count ≤ max_dist") regardless of micro-batch
    boundaries or arrival order: whichever of a pair arrives second finds
    the first in state, and within a batch rows are processed in sorted id
    order against earlier appends. ``state_cap`` bounds per-bucket state
    (the df-guard analog — a bucket hotter than the cap is a template/flat
    slice; below the cap the set equality is exact). The same pair emitted
    by several bands dedups downstream with ``distinct()``.

    State size is O(bucket members) per key — the footprint the batch job
    would shuffle; edges stream out incrementally instead of re-running the
    self-join per shard."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    width = 64 // n_bands
    mask = (1 << width) - 1
    arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(hash_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig_stream.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"), F.explode(arr).alias("s")
    ).select(
        (F.col("s.band").cast("long") * (mask + 1) + F.col("s.key")).alias("bucket"),
        "id",
        "h",
    )
    m64 = (1 << 64) - 1

    def update(key, pdfs, state):
        frames = [pdf[["id", "h"]] for pdf in pdfs]
        batch = pd.concat(frames) if frames else pd.DataFrame({"id": [], "h": []})
        if state.exists:
            hashes, ids = state.get
            hashes, ids = list(hashes), list(ids)
        else:
            hashes, ids = [], []
        src, dst, dist = [], [], []
        for rid, h in zip(
            batch.sort_values("id")["id"].astype("int64"),
            batch.sort_values("id")["h"].astype("int64"),
        ):
            rid, h = int(rid), int(h)
            for eh, eid in zip(hashes, ids):
                if eid == rid:
                    continue
                d = bin((eh ^ h) & m64).count("1")
                if d <= max_dist:
                    src.append(min(rid, eid))
                    dst.append(max(rid, eid))
                    dist.append(d)
            if len(hashes) < state_cap:
                hashes.append(h)
                ids.append(rid)
        state.update((hashes, ids))
        yield pd.DataFrame({"src": src, "dst": dst, "dist": dist})

    return bands.groupBy("bucket").applyInPandasWithState(
        update,
        NEARDUP_OUT_SCHEMA,
        NEARDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_first_seen(sig_stream: DataFrame, watermark_col: str, delay: str,
                      fingerprint_col: str = "phash") -> DataFrame:
    """First-seen-only streaming dedup using the built-in watermarked
    dropDuplicates — the idiomatic Structured Streaming form when only the
    first copy should pass (late duplicates beyond the watermark are dropped
    from state, bounding it)."""
    return sig_stream.withWatermark(watermark_col, delay).dropDuplicates(
        [fingerprint_col]
    )


def stream_event_counts(
    spark: SparkSession,
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark — the monitoring
    aggregation for a continuously ingesting table. Input needs ``ts`` (timestamp)
    and ``event_type`` columns; works on any stream including the rate source."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
