package graft.solver

import graft.geo.{MapUnits, TileRect}
import graft.output.MetricsLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * Web-scale split: the recursive split-until-under-max-nodes
 * expressed as an iterative Dataset aggregation, for when even the
 * density histogram is too large to collect (resolution >= 17 at
 * planet scale the grid is billions of cells).
 *
 * Each round, over the distributed cell histogram:
 *   1. cells are mapped to their current oversized tile via a
 *      broadcast locator (map-side, no shuffle of the big side);
 *   2. one groupBy(tile, index) computes per-tile marginal sums along
 *      each tile's split axis (the only shuffle, and it carries at
 *      most one row per (tile, row-or-column));
 *   3. the driver picks each tile's weighted-median split position
 *      from its (small) marginal vector and replaces the tile with
 *      its two children;
 *   4. round state (tiles + counts) and per-tile metrics are
 *      checkpointed, so a killed job resumes at the same round and
 *      reproduces the identical final tiling.
 *
 * Versus the driver-side [[BspSolver]] (which implements the
 * reference's full heuristic search), this variant uses
 * weighted-median splits with axis chosen by aspect ratio — the
 * standard scalable BSP — and guarantees the same hard invariants:
 * disjoint aligned tiles, full coverage, count <= maxNodes unless a
 * tile is a single grid cell.
 *
 * Reference analog: splitter's solver over its in-memory grid
 * (`solver/SplittableDensityArea.java`); the round structure is the
 * SURVEY §2.6 "Spark plan for V-ops".
 */
final class IterativeSplitter(spark: SparkSession, bounds: TileRect,
                              resolution: Int, maxNodes: Long,
                              checkpointDir: String) {

  private val shift = 24 - resolution
  private val gridW = bounds.width >> shift
  private val gridH = bounds.height >> shift

  /** One tile of the current round, in grid coordinates. */
  final case class Tile(id: Int, x: Int, y: Int, w: Int, h: Int, count: Long)

  /** cos(lat)-corrected aspect ratio (width/height), like the driver
    * solver's `SolverGrid.aspectRatio`. */
  private def aspect(t: Tile): Double = {
    val latMid = bounds.minLat + ((t.y + t.h / 2.0) * (1 << shift))
    val f = math.cos(math.toRadians(MapUnits.toDegrees(latMid.toInt)))
    (t.w * f) / t.h
  }

  private def statePath(round: Int) = s"$checkpointDir/round_$round.json"

  private def saveState(round: Int, tiles: Seq[Tile]): Unit = {
    Files.createDirectories(Paths.get(checkpointDir))
    val json = tiles.map(t =>
      s"""{"id":${t.id},"x":${t.x},"y":${t.y},"w":${t.w},"h":${t.h},"count":${t.count}}""")
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(statePath(round)), json)
  }

  private def loadState(round: Int): Option[Seq[Tile]] = {
    val p = Paths.get(statePath(round))
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p)
      val pat = """\{"id":(\d+),"x":(\d+),"y":(\d+),"w":(\d+),"h":(\d+),"count":(\d+)\}""".r
      Some(pat.findAllMatchIn(s).map(m =>
        Tile(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt,
          m.group(4).toInt, m.group(5).toInt, m.group(6).toLong)).toSeq)
    }
  }

  /** Latest checkpointed round (resume point), if any. */
  private def latestRound: Option[Int] = {
    val dir = Paths.get(checkpointDir)
    if (!Files.exists(dir)) None
    else {
      val rounds = Files.list(dir).toArray.map(_.toString)
        .flatMap("""round_(\d+)\.json""".r.findFirstMatchIn(_).map(_.group(1).toInt))
      if (rounds.isEmpty) None else Some(rounds.max)
    }
  }

  /** [[TileIndex]] over tiles in GRID coordinates: the closed integer
    * rect [x, x+w-1] x [y, y+h-1] is exactly the half-open grid region
    * of the tile, so with disjoint tiles every cell probes to at most
    * one position. Probing goes through the codegen'd
    * [[graft.functions.ProbeTilesExpr]] — a gridded O(1) locator
    * inline in whole-stage codegen, not an O(#tiles) scan per row. */
  private def gridIndex(ts: Seq[Tile]) = new graft.index.TileIndex(
    ts.map(t => TileRect(t.y, t.x, t.y + t.h - 1, t.x + t.w - 1)).toArray,
    overlap = 0)

  /** Column: position (index into the broadcast tile array) of the
    * tile owning each cell, null when none. */
  private def posOf(bc: org.apache.spark.broadcast.Broadcast[graft.index.TileIndex]) =
    get(graft.functions.ProbeTilesExpr.probeTiles(
      col("cell_y").cast("int"), col("cell_x").cast("int"),
      bc, nearestFallback = false), lit(0))

  /**
   * Run the iterative split over the distributed cell histogram
   * `(cell_x, cell_y, cnt)`. Resumes from the latest checkpoint in
   * `checkpointDir` when present.
   *
   * The histogram is persisted across rounds (it is re-read ~2x per
   * round plus once for the trim pass — without the persist the
   * upstream scan/aggregation would recompute every time, the
   * dominant cost at planet scale).
   */
  def split(cells: DataFrame): Seq[TileRect] = {
    val cached = cells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = cached.agg(sum(col("cnt"))).collect()(0).getLong(0)
    var round = 0
    var tiles: Seq[Tile] = latestRound match {
      case Some(r) =>
        round = r
        loadState(r).get
      case None =>
        val t0 = Seq(Tile(0, 0, 0, gridW, gridH, total))
        saveState(0, t0)
        t0
    }
    var nextId = tiles.map(_.id).max + 1

    val maxRounds = 64 // >= log2(total/maxNodes) with margin
    while (round < maxRounds && tiles.exists(t => t.count > maxNodes && (t.w > 1 || t.h > 1))) {
      val oversized = tiles.filter(t => t.count > maxNodes && (t.w > 1 || t.h > 1))
      // axis per tile: split the long (aspect-corrected) side; a
      // 1-wide dimension forces the other axis
      val axisOf: Map[Int, Boolean] = oversized.map { t =>
        val horiz = if (t.w == 1) false else if (t.h == 1) true else aspect(t) >= 1.0
        t.id -> horiz
      }.toMap

      // broadcast gridded locator probed inside whole-stage codegen;
      // the per-tile metadata (grid origin + split axis) comes back
      // via a broadcast hash join on the probed position
      val bc = spark.sparkContext.broadcast(gridIndex(oversized))
      val meta = spark.createDataFrame(
        oversized.zipWithIndex.map { case (t, pos) =>
          (pos, t.id, t.x, t.y, axisOf(t.id))
        }).toDF("pos", "tile_id", "tx", "ty", "horiz")

      // one shuffle: per-(tile, marginal index) sums
      val marginals = cached
        .withColumn("pos", posOf(bc))
        .where(col("pos").isNotNull)
        .join(broadcast(meta), "pos")
        .groupBy(col("tile_id"),
          when(col("horiz"), col("cell_x") - col("tx"))
            .otherwise(col("cell_y") - col("ty")).cast("int").as("idx"))
        .agg(sum(col("cnt")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (id, rows) =>
          id -> rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
        }

      val metrics = mutable.ArrayBuffer.empty[String]
      val newTiles = tiles.flatMap { t =>
        if (!(t.count > maxNodes && (t.w > 1 || t.h > 1))) Seq(t)
        else marginals.get(t.id) match {
          case None => Seq(t) // no cells (shouldn't happen: count > 0)
          case Some(marg) =>
            val horiz = axisOf(t.id)
            val len = if (horiz) t.w else t.h
            // weighted median over the marginal vector
            val dense = new Array[Long](len)
            marg.foreach { case (i, m) => if (i >= 0 && i < len) dense(i) = m }
            var acc = 0L
            var pos = 0
            while (pos < len - 1 && acc + dense(pos) <= t.count / 2) {
              acc += dense(pos); pos += 1
            }
            val splitAt = math.max(1, pos) // at least one line on the left
            val leftCount = dense.take(splitAt).sum
            val (c0, c1) =
              if (horiz)
                (Tile(nextId, t.x, t.y, splitAt, t.h, leftCount),
                  Tile(nextId + 1, t.x + splitAt, t.y, t.w - splitAt, t.h, t.count - leftCount))
              else
                (Tile(nextId, t.x, t.y, t.w, splitAt, leftCount),
                  Tile(nextId + 1, t.x, t.y + splitAt, t.w, t.h - splitAt, t.count - leftCount))
            nextId += 2
            for (c <- Seq(c0, c1)) metrics += MetricsLog.json("round" -> (round + 1),
              "parent" -> t.id, "child" -> c.id, "count" -> c.count)
            Seq(c0, c1)
        }
      }
      bc.destroy()
      round += 1
      tiles = newTiles
      saveState(round, tiles)
      // per-round, per-tile lineage: which parent a tile came from
      new MetricsLog(checkpointDir).append(metrics)
    }

    // final trim: shrink every tile to its occupied cell bbox (one
    // extra aggregation), dropping empty tiles — the distributed
    // analog of the driver solver's trimOuterTiles. The probed
    // position doubles as the tile key (mapped back positionally on
    // the driver), so no metadata join is needed here.
    val bcT = spark.sparkContext.broadcast(gridIndex(tiles))
    val occupied = cached
      .withColumn("pos", posOf(bcT))
      .where(col("pos").isNotNull)
      .groupBy("pos")
      .agg(min("cell_x").as("x0"), max("cell_x").as("x1"),
        min("cell_y").as("y0"), max("cell_y").as("y1"))
      .collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    val out = tiles.zipWithIndex.flatMap { case (_, pos) =>
      occupied.get(pos).map { case (x0, x1, y0, y1) =>
        TileRect(
          bounds.minLat + (y0 << shift), bounds.minLon + (x0 << shift),
          bounds.minLat + ((y1 + 1) << shift), bounds.minLon + ((x1 + 1) << shift))
      }
    }
    bcT.destroy()
    cached.unpersist(false)
    out
  }
}
