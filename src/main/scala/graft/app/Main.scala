package graft.app

import graft.assign.TileAssigner
import graft.output.{AreaWriters, MetricsLog}
import graft.pipeline.{SplitConfig, SplitPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Command-line surface with the reference's option names, defaults
 * and validation (`args/SplitterParams.java:21-126`,
 * `Main.java:264-270,420-460`): `--name=value` pairs plus bare input
 * paths. Options that configure the engine are honored; options that
 * only made sense for the single-node OSM-file engine (cache,
 * max-threads, status-freq, mixed) are accepted and ignored, exactly
 * like the reference treats its own deprecated flags.
 */
final case class SplitterArgs(
    mapid: Int = 63240001,
    description: Option[String] = None,
    maxNodes: Long = 1600000L,
    maxAreas: Int = 2048,
    numTiles: Option[Int] = None,
    resolution: Int = 13,
    overlap: String = "auto",
    keepComplete: Boolean = true,
    outputDir: String = ".",
    splitFile: Option[String] = None,
    geonamesFile: Option[String] = None,
    writeKml: Option[String] = None,
    noTrim: Boolean = false,
    searchLimit: Int = 200000,
    stopAfter: String = "dist",
    problemFile: Option[String] = None,
    problemReport: Option[String] = None,
    polygonFile: Option[String] = None,
    polygonDescFile: Option[String] = None,
    precompSea: Option[String] = None,
    boundaryTags: Option[String] = None,
    wantedAdminLevel: Option[Int] = None,
    output: String = "parquet",
    handleElementVersion: String = "remove",
    inputs: Seq[String] = Nil) {

  /** Overlap amount after the reference's auto/keep-complete default
    * handling (`Main.java:432-449`). */
  def overlapAmount: Int = overlap match {
    case "auto" => if (keepComplete) 0 else 2000
    case v => v.toInt
  }

  def toConfig: SplitConfig = SplitConfig(
    resolution = resolution,
    maxNodes = maxNodes,
    overlap = overlapAmount,
    keepComplete = keepComplete,
    startMapId = mapid,
    trim = !noTrim,
    searchLimit = searchLimit,
    numTiles = numTiles)
}

object SplitterArgs {
  val ValidStopAfter: Seq[String] =
    Seq("split", "gen-problem-list", "handle-problem-list", "dist")

  /** Every option name the reference's SplitterParams interface
    * derives (kebab-case of the getter). */
  val KnownOptions: Set[String] = Set(
    "mapid", "description", "max-areas", "overlap", "max-nodes",
    "num-tiles", "resolution", "mixed", "cache", "output-dir",
    "split-file", "geonames-file", "write-kml", "status-freq",
    "no-trim", "max-threads", "output", "problem-file",
    "keep-complete", "problem-report", "polygon-file",
    "polygon-desc-file", "stop-after", "precomp-sea", "boundary-tags",
    "wanted-admin-level", "search-limit", "handle-element-version",
    "ignore-osm-bounds")

  /** Parse `--name=value` / `--flag` / bare input paths. Returns
    * Left(message) on the same error classes the reference rejects. */
  def parse(args: Seq[String]): Either[String, SplitterArgs] = {
    var a = SplitterArgs()
    val inputs = Seq.newBuilder[String]
    try {
      args.foreach { raw =>
        if (!raw.startsWith("--")) inputs += raw
        else {
          val (name, value) = raw.drop(2).split("=", 2) match {
            case Array(n, v) => (n, v)
            case Array(n) => (n, "true") // bare boolean flag
          }
          if (!KnownOptions.contains(name))
            return Left(s"Unknown option '--$name'. Valid options are: " +
              KnownOptions.toSeq.sorted.mkString(", "))
          name match {
            case "mapid" => a = a.copy(mapid = value.toInt)
            case "max-areas" => a = a.copy(maxAreas = value.toInt)
            case "description" => a = a.copy(description = Some(value))
            case "max-nodes" => a = a.copy(maxNodes = value.toLong)
            case "num-tiles" => a = a.copy(numTiles = Some(value.toInt))
            case "resolution" => a = a.copy(resolution = value.toInt)
            case "overlap" => a = a.copy(overlap = value)
            case "keep-complete" => a = a.copy(keepComplete = value.toBoolean)
            case "output-dir" => a = a.copy(outputDir = value)
            case "split-file" => a = a.copy(splitFile = Some(value))
            case "geonames-file" => a = a.copy(geonamesFile = Some(value))
            case "write-kml" => a = a.copy(writeKml = Some(value))
            case "no-trim" => a = a.copy(noTrim = value.toBoolean)
            case "search-limit" => a = a.copy(searchLimit = value.toInt)
            case "stop-after" => a = a.copy(stopAfter = value)
            case "problem-file" => a = a.copy(problemFile = Some(value))
            case "problem-report" => a = a.copy(problemReport = Some(value))
            case "polygon-file" => a = a.copy(polygonFile = Some(value))
            case "polygon-desc-file" =>
              a = a.copy(polygonDescFile = Some(value))
            case "precomp-sea" => a = a.copy(precompSea = Some(value))
            case "boundary-tags" => a = a.copy(boundaryTags = Some(value))
            case "wanted-admin-level" =>
              a = a.copy(wantedAdminLevel = Some(value.toInt))
            case "output" => a = a.copy(output = value)
            case "handle-element-version" =>
              a = a.copy(handleElementVersion = value)
            case _ => () // accepted-and-ignored legacy option
          }
        }
      }
    } catch {
      case e: NumberFormatException => return Left(s"Invalid numeric value: ${e.getMessage}")
      case e: IllegalArgumentException => return Left(s"Invalid value: ${e.getMessage}")
    }
    a = a.copy(inputs = inputs.result())
    // the reference's plausibility checks (Main.java:408-449)
    if (!ValidStopAfter.contains(a.stopAfter))
      return Left("the --stop-after parameter must be one of " +
        ValidStopAfter.mkString("[", ", ", "]") + ".")
    if (a.searchLimit < 1000)
      return Left("The --search-limit parameter must be 1000 or higher.")
    if (a.resolution < 1 || a.resolution > 24)
      return Left("The --resolution parameter must be between 1 and 24.")
    if (a.overlap != "auto") scala.util.Try(a.overlap.toInt).toOption match {
      case None =>
        return Left("The --overlap parameter must be a number or auto.")
      case Some(v) if v < 0 =>
        return Left("The --overlap parameter must not be negative.")
      case _ => ()
    }
    if (!Seq("remove", "fake", "keep").contains(a.handleElementVersion))
      return Left("The --handle-element-version parameter must be remove, fake, or keep.")
    if (a.maxNodes < 1)
      return Left("The --max-nodes parameter must be positive.")
    if (a.maxAreas < 1 || a.maxAreas > 9999)
      return Left("The --max-areas parameter must be a value between 1 and 9999.")
    Right(a)
  }
}

/**
 * The one phase driver, mirroring the reference `Main` (split ->
 * gen-problem-list -> handle-problem-list -> dist,
 * `Main.java:120-133`): each phase gated by `--stop-after` and
 * checkpointed to `output-dir` so a rerun resumes from artifacts
 * (split-file reuse semantics). What differs between corpus and OSM
 * inputs lives behind [[PhaseInput]]; every `metrics.jsonl` line goes
 * through one [[MetricsLog]].
 */
object Main {

  /** Run all phases up to `stopAfter`; returns the last phase run.
    * Inputs that are all OSM files (`.osm[.gz]` / `.o5m` / `.pbf`) run
    * through [[OsmInput]], parquet paths through [[CorpusInput]]. */
  def run(spark: SparkSession, a: SplitterArgs): String = {
    require(a.inputs.nonEmpty, "at least one input path is required")
    val input = a.inputs.partition(OsmSplit.isOsmInput) match {
      case (_, Nil) => new OsmInput(spark, a)
      case (Nil, _) => new CorpusInput(spark, a)
      case (osm, other) => throw new IllegalArgumentException(
        s"Mixed OSM and parquet inputs are not supported: ${osm.mkString(", ")} " +
          s"and ${other.mkString(", ")}")
    }
    val cfg = a.toConfig
    val outDir = a.outputDir
    val m = new MetricsLog(outDir).reset()
    val points = input.points

    // ---- phase: split (density -> solve -> areas.* artifacts) ------
    val areas = m.step("split_solve") {
      finalizeAreas(spark, a, solveAreas(spark, a, cfg, points), outDir)
    }
    if (a.stopAfter == "split") return "split"

    // ---- phase: gen-problem-list (border-crossing links) -----------
    val index = SplitPipeline.buildIndex(areas, cfg)
    val assignment = m.step("node_assignment") {
      input.assignment(TileAssigner.withTileIds(spark, points,
        col("lat_mu"), col("lon_mu"), index, cfg.nearestFallback))
    }
    // --problem-report names the problem-list artifact; the reference
    // ignores it under --keep-complete=false (Main.java:451-453),
    // with the same warning wording
    val reportPath =
      if (!a.keepComplete) {
        if (a.problemReport.isDefined)
          System.err.println("Parameter --problem-report is ignored, " +
            "because parameter --keep-complete=false is used")
        s"$outDir/problem.list"
      } else a.problemReport.getOrElse(s"$outDir/problem.list")
    val nProblems = input.writeProblemList(assignment, reportPath, m)
    m.line("phase" -> "gen-problem-list", "problems" -> nProblems)
    if (a.stopAfter == "gen-problem-list") return "gen-problem-list"

    // ---- phase: handle-problem-list (keep-complete duplication) ----
    if (cfg.keepComplete) {
      val linkTiles = s"$outDir/link_tiles.parquet"
      input.problemTiles(areas).write.mode("overwrite").parquet(linkTiles)
      // read back, so the metric covers what actually landed on disk
      m.partitions(spark.read.parquet(linkTiles), "handle-problem-list")
    }
    if (a.stopAfter == "handle-problem-list") return "handle-problem-list"

    // ---- phase: dist (assignment fan-out, written per tile) --------
    // --max-areas: at most maxAreas tiles are written per pass
    // (reference Main.java:526, numPasses = ceil(areas / maxAreas)) —
    // the pass count is a resource knob and MUST NOT change results
    // (the reference's SolverAndProblemGeneratorTest asserts this
    // invariance; MainSpec does the same here)
    val rows = input.distRows(assignment, areas, m)
    val chunks = areas.grouped(a.maxAreas).toSeq
    m.step("tile_sink") {
      val written = chunks.zipWithIndex.flatMap { case (chunk, i) =>
        input.writeTiles(rows, TilePass(chunk, i, chunks.size))
      }
      if (written.nonEmpty) m.line("phase" -> "dist", "rows_written" -> written.sum)
    }
    m.step("dist_metrics")(m.partitions(rows, input.distPhase))
    rows.unpersist(false)
    "dist"
  }

  /** The split phase's solve: split-file reuse, else density grid
    * (optionally sea-merged) -> BSP / polygon-constrained solve. */
  private def solveAreas(spark: SparkSession, a: SplitterArgs,
      cfg: SplitConfig, points: DataFrame): Seq[graft.output.AreaDef] =
    a.splitFile match {
      case Some(f) => AreaWriters.readAreasList(f) // split-file reuse
      case None =>
        // bounds computed once so sea read + both histograms align
        val bounds = cfg.bounds.getOrElse(graft.density.DensityJob.bbox(
          points, col("lat_mu"), col("lon_mu")))
        val cfgB = cfg.copy(bounds = Some(bounds))
        // --precomp-sea: coastline points of the covering mixed tiles
        // merged as the sea background (empty land cells take sea*2,
        // reference Main.java:252-257 -> DensityMap.mergeSeaData)
        val sea = a.precompSea.map(
          graft.sources.PrecompSea.readSeaPoints(spark, _, bounds))
        val grid = SplitPipeline.computeGrid(points, cfgB, sea)
        // --polygon-desc-file (named polygons, takes precedence like
        // the reference's readPolygonDescFile after readPolygonFile,
        // AreasCalculator.java:52-53) or --polygon-file constrain the
        // solve. The desc analog is a DIRECTORY of osmosis .poly
        // files (the reference reads one OSM XML of named polygons;
        // OSM parsing is out of scope by design, the .poly name line
        // carries the region name).
        val as = (a.polygonDescFile, a.polygonFile) match {
          case (Some(dir), _) =>
            val files = Option(new java.io.File(dir)
                .listFiles((_, n) => n.endsWith(".poly")))
              .getOrElse(throw new IllegalArgumentException(
                s"polygon desc directory doesn't exist: $dir"))
              .sortBy(_.getName)
            val polys = files.toSeq.map { f =>
              graft.solver.NamedPolygon(
                graft.output.PolyWriters.readPolyName(f.getPath),
                graft.solver.PolygonSupport.polygonOf(
                  graft.output.PolyWriters.readPoly(f.getPath)))
            }
            graft.solver.NamedPolygonSplit
              .split(grid, polys, cfg.maxNodes, cfg.searchLimit)
              .flatMap { case (desc, tiles) => tiles.map(r => (desc, r)) }
              .zipWithIndex
              .map { case ((desc, r), i) =>
                graft.output.AreaDef(cfg.startMapId + i, r, Some(desc)) }
          case (None, Some(pf)) =>
            val poly = graft.solver.PolygonSupport.polygonOf(
              graft.output.PolyWriters.readPoly(pf))
            graft.solver.PolygonSupport
              .split(grid, poly, cfg.maxNodes, cfg.searchLimit)
              .zipWithIndex
              .map { case (r, i) => graft.output.AreaDef(cfg.startMapId + i, r) }
          case _ => SplitPipeline.solve(grid, cfg)
        }
        if (a.mapid + as.size > 99999999)
          throw new IllegalArgumentException(
            s"Too many areas for initial mapid ${a.mapid}")
        as
    }

  /** J6 naming (top-population geonames city per tile, else the
    * --description default — reference AreaList.setAreaNames:272-298)
    * plus the areas.list / template.args / areas.poly / kml artifacts. */
  private def finalizeAreas(spark: SparkSession, a: SplitterArgs,
      solved: Seq[graft.output.AreaDef], outDir: String): Seq[graft.output.AreaDef] = {
    val areas = a.geonamesFile match {
      case Some(gf) =>
        val cities = graft.sources.GeoNames.loadCities(spark, gf)
        val names = graft.sources.GeoNames
          .nameTiles(tilesDimOf(spark, solved), cities)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        solved.map(ad => ad.copy(name =
          names.get(ad.mapId.toLong).orElse(ad.name).orElse(a.description)))
      case None => solved.map(ad => ad.copy(name = ad.name.orElse(a.description)))
    }
    AreaWriters.writeAreasList(s"$outDir/areas.list", areas)
    AreaWriters.writeTemplateArgs(s"$outDir/template.args", areas, a.output)
    graft.output.PolyWriters.writePoly(s"$outDir/areas.poly", "area", // reference AreaList.java:196 hardcodes "area"
      areas.map(_.rect))
    a.writeKml.foreach { kml =>
      val path = if (new java.io.File(kml).isAbsolute) kml else s"$outDir/$kml"
      graft.output.PolyWriters.writeKml(path, areas)
    }
    areas
  }

  /** Solved areas as a t_-prefixed broadcast dimension. */
  private def tilesDimOf(spark: SparkSession,
                         areas: Seq[graft.output.AreaDef]): DataFrame =
    spark.createDataFrame(areas.map(ad =>
      (ad.mapId.toLong, ad.rect.minLat.toLong, ad.rect.minLon.toLong,
        ad.rect.maxLat.toLong, ad.rect.maxLon.toLong)))
      .toDF("map_id", "t_min_lat", "t_min_lon", "t_max_lat", "t_max_lon")

  def main(args: Array[String]): Unit =
    SplitterArgs.parse(args.toSeq) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(1)
      case Right(a) =>
        val spark = SparkSession.builder()
          .withExtensions(new graft.plans.GraftExtensions)
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        try {
          val last = run(spark, a)
          println(s"Completed phase: $last")
        } finally spark.stop()
    }
}
