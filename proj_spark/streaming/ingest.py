"""Streaming image+caption ingest (the north-star table's front door).

A 10^12-image table is not loaded in one batch — it arrives as a
stream of files/shards.  This lane is the Structured Streaming form of
the ingest gate: readStream over the landing directory -> decode +
payload invariants (PSNR>=40 for lossy, exact for png, caption
equality) -> derived centroid + tile key -> append sink, with the
checkpoint making the whole ingest exactly-once and resumable (kill
the job mid-stream, restart with the same checkpointLocation, and
already-committed source files are never re-processed).

Every transformation here is stateless per row (mapInPandas decode,
pandas-UDF centroid, tile expressions), so the stream needs no
watermark and no state store: throughput scales with executors exactly
like the batch payload gate (BENCH_SCALING.json payload_decode_pair —
0.82 N->4N efficiency, pure Python-worker compute).

The gate uses :func:`proj_spark.sources.images.gate_payloads` (one
fused mapInPandas pass) rather than verify_payloads + join: joining
verdicts back to rows would be a stream-stream join — stateful,
watermark-bound, and pointlessly expensive when the verdict is
computable in the same pass that reads the row.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E
from ..sources.images import gate_payloads, with_centroids


def stream_image_ingest(
    images: DataFrame,
    zoom: int = 11,
    min_psnr: float = 40.0,
    keep_bytes: bool = False,
) -> DataFrame:
    """Gate + geo-key a (streaming or batch) image+caption DataFrame.

    Returns rows that pass the payload invariants, with the derived
    centroid (lon, lat), the zoom-``zoom`` tile key (tile_x, tile_y)
    and the measured psnr_db appended — the shape the tile-bucketed
    production table wants at write time (sources/tables.py).  Rows
    failing the gate are dropped; count them upstream via
    ``gate_payloads`` directly if a rejects audit stream is needed.
    """
    gated = gate_payloads(images, min_psnr=min_psnr, keep_bytes=keep_bytes)
    ok = gated.where(F.col("caption_ok") & F.col("pixels_ok"))
    keyed = with_centroids(ok)
    return (
        keyed.withColumn("tile_x", E.tile_x("lon", zoom))
        .withColumn("tile_y", E.tile_y("lat", zoom))
        .drop("caption_ok", "pixels_ok")
    )


def run_image_ingest(
    spark,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    zoom: int = 11,
    min_psnr: float = 40.0,
    rejects_dir: str | None = None,
) -> None:
    """One availableNow ingest pass: drain whatever landed under
    ``src_dir`` since the last committed offset into the parquet sink,
    exactly once, then stop.  Repeated calls with the same
    ``checkpoint_dir`` resume; a crash between calls loses nothing
    (the sink commit and the source offsets are both checkpointed).

    With ``rejects_dir`` set, rows failing the gate (corrupt payload,
    PSNR below the bar, caption mismatch) are quarantined there with
    their verdict columns instead of silently dropped — the audit
    stream an operated ingest needs.  Two sinks from one stream means
    foreachBatch; each batch writes to a ``batch=<id>`` subdirectory
    with overwrite, so a retried batch replaces itself (idempotent)
    and the pair of sinks stays exactly-once together.  Read either
    sink as plain parquet — ``batch`` surfaces as a partition column.
    """
    from ..sources.images import IMAGE_SCHEMA

    stream = spark.readStream.schema(IMAGE_SCHEMA).parquet(src_dir)
    if rejects_dir is None:
        out = stream_image_ingest(stream, zoom=zoom, min_psnr=min_psnr)
        (
            out.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return

    gated = gate_payloads(stream, min_psnr=min_psnr, keep_bytes=False)
    ok_cond = F.col("caption_ok") & F.col("pixels_ok")

    def _handle(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        ok = with_centroids(batch.where(ok_cond))
        (
            ok.withColumn("tile_x", E.tile_x("lon", zoom))
            .withColumn("tile_y", E.tile_y("lat", zoom))
            .drop("caption_ok", "pixels_ok")
            .write.mode("overwrite")
            .parquet(f"{sink_dir}/batch={batch_id}")
        )
        batch.where(~ok_cond).write.mode("overwrite").parquet(
            f"{rejects_dir}/batch={batch_id}"
        )
        batch.unpersist()

    (
        gated.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
