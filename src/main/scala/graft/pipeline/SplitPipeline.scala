package graft.pipeline

import graft.assign.TileAssigner
import graft.density.{DensityGrid, DensityJob}
import graft.geo.{CoordSynthesis, TileRect}
import graft.index.TileIndex
import graft.model.InterleavedCorpus
import graft.output.{AreaDef, AreaWriters, MetricsLog}
import graft.solver.BspSolver
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/**
 * Engine configuration — option names and defaults mirror the
 * reference's `args/SplitterParams.java:21-126`.
 */
final case class SplitConfig(
    resolution: Int = 13,
    maxNodes: Long = 1600000L,
    /** Map units, used as given: the keep-complete default is
      * resolved once, by `SplitterArgs.overlapAmount`. */
    overlap: Int = 0,
    keepComplete: Boolean = true,
    startMapId: Int = 63240001,
    trim: Boolean = true,
    searchLimit: Int = BspSolver.DefaultSearchLimit,
    nearestFallback: Boolean = true,
    numTiles: Option[Int] = None,
    bounds: Option[TileRect] = None)

final case class SplitResult(areas: Seq[AreaDef], grid: DensityGrid,
                             assigned: DataFrame)

/**
 * End-to-end tile split + assignment over the interleaved corpus:
 *
 *  1. density: one groupBy(cell).count() shuffle, collected to the
 *     driver grid (bounded by the grid resolution, not data size);
 *  2. solve: driver-side BSP ([[BspSolver]]) — a search algorithm,
 *     not a dataflow;
 *  3. assign: map-side broadcast-index probe, zero shuffle;
 *  4. outputs: areas.list / template.args checkpoint artifacts.
 *
 * Checkpoint/resume: the density grid is persisted as densities.txt
 * and the solved tiles as areas.list; a rerun picks up whichever
 * phase artifacts already exist (split-file reuse, reference
 * `Main.java:198-213`).
 */
object SplitPipeline {

  /** Derive deterministic map-unit coordinates for an interleaved
    * corpus row. */
  def pointsOf(docs: DataFrame): DataFrame = {
    val id = InterleavedCorpus.idOfDocId(col("doc_id"))
    docs.withColumn("lat_mu", CoordSynthesis.latCol(id))
      .withColumn("lon_mu", CoordSynthesis.lonCol(id))
  }

  /** Density grid of `points`; `sea` (columns lat_mu, lon_mu), when
    * given, is merged in as the `--precomp-sea` background — see
    * [[DensityJob.collectGrid]]. */
  def computeGrid(points: DataFrame, cfg: SplitConfig,
                  sea: Option[DataFrame] = None): DensityGrid = {
    val bounds = cfg.bounds.getOrElse(
      DensityJob.bbox(points, col("lat_mu"), col("lon_mu")))
    DensityJob.collectGrid(points, col("lat_mu"), col("lon_mu"),
      bounds, cfg.resolution, sea)
  }

  def solve(grid: DensityGrid, cfg: SplitConfig): Seq[AreaDef] = {
    val solver = new BspSolver(grid, cfg.searchLimit)
    solver.maxNodes = cfg.maxNodes
    solver.trimShape = cfg.trim
    val rects = cfg.numTiles match {
      case Some(n) => solver.splitIntoTiles(n)
      case None => solver.split()
    }
    rects.zipWithIndex.map { case (r, i) => AreaDef(cfg.startMapId + i, r) }
  }

  def buildIndex(areas: Seq[AreaDef], cfg: SplitConfig): TileIndex =
    new TileIndex(areas.map(_.rect).toArray, cfg.overlap)

  def assign(spark: SparkSession, points: DataFrame, areas: Seq[AreaDef],
             cfg: SplitConfig): DataFrame = {
    val index = buildIndex(areas, cfg)
    TileAssigner.explodeByTile(
      TileAssigner.withTileIds(spark, points, col("lat_mu"), col("lon_mu"),
        index, cfg.nearestFallback),
      cfg.startMapId)
  }

  /** Full run with phase checkpoints under `outDir`. */
  def run(spark: SparkSession, docs: DataFrame, cfg: SplitConfig,
          outDir: String): SplitResult = {
    Files.createDirectories(Paths.get(outDir))
    val points = pointsOf(docs)
    val areasPath = s"$outDir/areas.list"
    val densPath = s"$outDir/densities.txt"

    val (grid, areas) =
      if (Files.exists(Paths.get(areasPath))) {
        // split-file reuse: skip density + solve entirely
        val as = AreaWriters.readAreasList(areasPath)
        val g =
          if (Files.exists(Paths.get(densPath)))
            DensityGrid.load(densPath, cfg.resolution)._1
          else computeGrid(points, cfg)
        (g, as)
      } else {
        val g =
          if (Files.exists(Paths.get(densPath)))
            DensityGrid.load(densPath, cfg.resolution)._1
          else {
            val g0 = computeGrid(points, cfg)
            g0.save(densPath, g0.bounds)
            g0
          }
        val as = solve(g, cfg)
        AreaWriters.writeAreasList(areasPath, as)
        AreaWriters.writeTemplateArgs(s"$outDir/template.args", as)
        graft.output.PolyWriters.writePoly(s"$outDir/areas.poly", "area", // reference AreaList.java:196 hardcodes "area"
          as.map(_.rect))
        graft.output.PolyWriters.writeKml(s"$outDir/areas.kml", as)
        (g, as)
      }
    val assigned = assign(spark, points, areas, cfg)
    SplitResult(areas, grid, assigned)
  }

  /** Per-partition row counts of a phase output, appended to
    * `outDir/metrics.jsonl` so successive phases accumulate. */
  def recordMetrics(df: DataFrame, phase: String, outDir: String): Unit =
    new MetricsLog(outDir).partitions(df, phase)
}
