package graft.streaming

import graft.density.DensityJob
import graft.geo.TileRect
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental density maintenance over a document stream — the
 * streaming analog of the batch cell histogram, for keeping the tile
 * layout fresh as a corpus grows (the reference is batch multi-pass;
 * its queue pipeline `OSMFileHandler.execute:135-163` is pure
 * plumbing — this is the semantic extension to continuous ingestion).
 *
 * Two shapes:
 *  - [[cellCounts]]: running per-cell totals (update/complete mode) —
 *    feed the solver a refreshed grid per trigger;
 *  - [[windowedCellCounts]]: event-time tumbling windows with a
 *    watermark (append mode) — per-window density deltas that can be
 *    merged into a base grid (the A4 raster-merge path).
 */
object StreamingDensity {

  /** Running (cell_x, cell_y, cnt) totals over a point stream: the
    * batch [[DensityJob.histogram]], kept as streaming state. */
  def cellCounts(stream: DataFrame, lat: Column, lon: Column,
                 bounds: TileRect, resolution: Int): DataFrame =
    DensityJob.histogram(stream, lat, lon, bounds, resolution)

  /** Per-event-time-window cell counts with a watermark: closed
    * windows emit once (append mode) and can be merged downstream. */
  def windowedCellCounts(stream: DataFrame, ts: Column, lat: Column, lon: Column,
                         bounds: TileRect, resolution: Int,
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    val shift = 24 - resolution
    stream
      // watermarks need TIMESTAMP (with timezone); NTZ sources get cast
      .withColumn("_ts", ts.cast("timestamp"))
      .withWatermark("_ts", watermark)
      .where(DensityJob.inBounds(lat, lon, bounds))
      .groupBy(
        window(col("_ts"), windowLen).as("win"),
        DensityJob.cellX(lon, bounds, shift).as("cell_x"),
        DensityJob.cellY(lat, bounds, shift).as("cell_y"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("window_start"),
        col("cell_x"), col("cell_y"), col("cnt"))
  }
}
