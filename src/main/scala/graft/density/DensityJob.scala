package graft.density

import graft.geo.TileRect
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed density aggregation: points -> per-cell counts.
 *
 * The groupBy(cell).count() hash aggregate does map-side partial
 * aggregation, so each task emits at most one row per distinct cell
 * and a dense-metro cell costs the reducer at most #tasks rows — the
 * aggregation itself is skew-proof. (The set-valued link-membership
 * aggregation downstream is the one that salts; see
 * [[graft.assign.LinkMembership.linkTiles]].)
 * The result is at most one row per non-empty grid cell, small enough
 * to collect for the driver-side solver at resolutions <= 16; the
 * iterative split path keeps it distributed instead.
 *
 * Every histogram here is grouped by one packed cell key,
 * `cell_key = cell_y * 2^32 + cell_x`: a single 8-byte fixed-width key
 * keeps the hash aggregate in its fastest path — measured 20-70x
 * faster than grouping by the two int columns at 8M rows / 1.5M
 * groups on local[32] — and a join of two histograms on it needs no
 * re-exchange, since both aggregations are already hash-partitioned
 * by it (r7: two fewer exchanges for the sea merge than joining on
 * the unpacked pair). The key <-> (x, y) mapping is bijective.
 */
object DensityJob {

  /** Grid-cell x (column) of a longitude column, clamped so that
    * lon == maxLon lands in the last cell (closed east edge, matching
    * the reference's `DensityMap.addNode:125-140`). */
  def cellX(lon: Column, bounds: TileRect, shift: Int): Column = {
    val w = bounds.width >> shift
    least(shiftright(lon - bounds.minLon, shift), lit(w - 1)).cast("int")
  }

  /** Grid-cell y (row) of a latitude column, closed north edge. */
  def cellY(lat: Column, bounds: TileRect, shift: Int): Column = {
    val h = bounds.height >> shift
    least(shiftright(lat - bounds.minLat, shift), lit(h - 1)).cast("int")
  }

  /** Keep only points inside `bounds` (closed on all edges). */
  def inBounds(lat: Column, lon: Column, bounds: TileRect): Column =
    lat >= bounds.minLat && lat <= bounds.maxLat &&
      lon >= bounds.minLon && lon <= bounds.maxLon

  /** Sea cells with no land count weigh this much (reference
    * `DensityMap.mergeSeaData:349-428`, SEA_NODE_FACTOR). */
  private val SeaFactor = 2

  /**
   * Keyed cell histogram `(cell_key, cnt, extra...)` of a point
   * DataFrame: one shuffle, partially aggregated map-side. `extra`
   * aggregates ride the same per-cell group.
   */
  def histogramKeyed(points: DataFrame, lat: Column, lon: Column,
                     bounds: TileRect, resolution: Int,
                     extra: Column*): DataFrame = {
    val shift = 24 - resolution
    val key = cellY(lat, bounds, shift).cast("long") * (1L << 32) +
      cellX(lon, bounds, shift).cast("long")
    points
      .where(inBounds(lat, lon, bounds))
      .groupBy(key.as("cell_key"))
      .agg(count(lit(1)).as("cnt"), extra: _*)
  }

  /** A keyed `(cell_key, cnt)` histogram as `(cell_x, cell_y, cnt)`. */
  def unpacked(keyed: DataFrame): DataFrame =
    keyed.select(
      (col("cell_key") % (1L << 32)).cast("int").as("cell_x"),
      (col("cell_key") / (1L << 32)).cast("int").as("cell_y"),
      col("cnt"))

  /** Cell histogram `(cell_x, cell_y, cnt)` of a point DataFrame. */
  def histogram(points: DataFrame, lat: Column, lon: Column,
                bounds: TileRect, resolution: Int): DataFrame =
    unpacked(histogramKeyed(points, lat, lon, bounds, resolution))

  /** Exact data bounding box `(min_lat, min_lon, max_lat, max_lon)`. */
  def bbox(points: DataFrame, lat: Column, lon: Column): TileRect = {
    val r = points.agg(
      min(lat).cast("int"), min(lon).cast("int"),
      max(lat).cast("int"), max(lon).cast("int")).collect()(0)
    TileRect.nonDegenerate(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /**
   * Merge a keyed background (sea) histogram into a keyed primary
   * (land) one: cells with no land count take `seaCount * 2`, land
   * wins otherwise — a raster-raster full-outer reconcile on the
   * packed key (reference `DensityMap.mergeSeaData:349-428`).
   * Returns keyed `(cell_key, cnt)`.
   */
  def mergeSea(land: DataFrame, sea: DataFrame): DataFrame =
    land.withColumnRenamed("cnt", "land_cnt")
      .join(sea.withColumnRenamed("cnt", "sea_cnt"),
        Seq("cell_key"), "full_outer")
      .select(col("cell_key"),
        when(col("land_cnt").isNotNull, col("land_cnt"))
          .otherwise(col("sea_cnt") * SeaFactor).as("cnt"))

  /**
   * Collect a histogram into the driver-side [[DensityGrid]].
   *
   * `sea`, when given, holds background points with the same `lat` /
   * `lon` columns; its histogram over the same aligned bounds is
   * merged in with [[mergeSea]] before the collect (the
   * `--precomp-sea` path).
   */
  def collectGrid(points: DataFrame, lat: Column, lon: Column,
                  bounds: TileRect, resolution: Int,
                  sea: Option[DataFrame] = None): DensityGrid = {
    val aligned = bounds.roundedTo(resolution)
    val land = histogramKeyed(points, lat, lon, aligned, resolution)
    val hist = sea.fold(land)(s =>
      mergeSea(land, histogramKeyed(s, lat, lon, aligned, resolution)))
    collect(hist.select(col("cell_key"), col("cnt"), lit(0L)),
      aligned, resolution)._1
  }

  /**
   * [[collectGrid]] fused with a whole-input XOR checksum: one
   * aggregation computes per-cell (count, bit_xor(fp)) and the
   * driver XORs the per-cell partials back together — XOR is
   * associative/commutative, so the result equals bit_xor over all
   * rows inside the aligned bounds (every row when `bounds` is the
   * data's [[bbox]]). Saves the separate full pass a standalone
   * checksum action would cost (the corpus scan is the dominant term
   * of the pipeline's density phase).
   */
  def collectGridWithXor(points: DataFrame, lat: Column, lon: Column,
                         fp: Column, bounds: TileRect,
                         resolution: Int): (DensityGrid, Long) = {
    val aligned = bounds.roundedTo(resolution)
    collect(histogramKeyed(points, lat, lon, aligned, resolution,
      bit_xor(fp).as("fpx")), aligned, resolution)
  }

  /**
   * Collect a keyed `(cell_key, cnt, fpx)` histogram into a grid over
   * `aligned`, plus the XOR of every `fpx`.
   *
   * Each result partition packs its rows into two primitive arrays
   * and one XOR on the executor, so the driver receives one object
   * per partition instead of millions of boxed rows — the serial
   * collect term drops from O(cells) row decoding to a few array
   * copies (matters for Amdahl at high parallelism).
   */
  private def collect(hist: DataFrame, aligned: TileRect,
                      resolution: Int): (DensityGrid, Long) = {
    val spark = hist.sparkSession
    import spark.implicits._
    val packed = hist
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        val keys = Array.newBuilder[Long]
        val cnts = Array.newBuilder[Long]
        var x = 0L
        it.foreach { case (k, c, f) => keys += k; cnts += c; x ^= f }
        Iterator.single((keys.result(), cnts.result(), x))
      }
      .collect()
    val g = new DensityGrid(aligned, resolution)
    var xor = 0L
    packed.foreach { case (keys, cnts, x) =>
      xor ^= x
      var i = 0
      while (i < keys.length) {
        val k = keys(i)
        g.addToCell((k % (1L << 32)).toInt, (k >> 32).toInt, cnts(i).toInt)
        i += 1
      }
    }
    (g, xor)
  }
}
