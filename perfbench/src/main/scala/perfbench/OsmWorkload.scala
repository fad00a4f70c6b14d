package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.app.{OsmSplit, SplitterArgs}
import graft.density.DensityJob
import graft.formats.{O5mReader, OsmKind}
import graft.pipeline.SplitPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * `OsmSplit.run` with its defaults (keep-complete, o5m tiles) over a seeded
 * planet written as one `.pbf`. Closure and assign-pairs copy every member
 * of a crossing way or relation into each of its tiles, so the dist phase
 * does most of the work. `maxNodes` = nodes / 50, the repository's OSM
 * bench setting for a real multi-tile split.
 */
final class OsmWorkload(nodes: Int, seed: Long, cpus: Int, work: String) extends Workload {
  private val planet = Planet(nodes, seed)
  private val input = s"$work/input/planet.pbf"
  private val outDir = s"$work/out"
  private val tilesDir = s"$outDir/tiles"
  private var inputBytes = 0L
  private var firstDigest: Option[String] = None

  private val args = SplitterArgs(maxNodes = nodes / 50L, output = "o5m", outputDir = outDir,
    inputs = Seq(input))

  def items: Long = planet.entities
  def attemptsPerPass: Int = 1
  def describe: Seq[String] = Seq(
    s"input: $input, ${planet.nodes} nodes, ${planet.ways} ways, ${planet.relations} relations, " +
      s"$inputBytes bytes, seed $seed",
    s"split: max-nodes ${args.maxNodes}, keep-complete ${args.keepComplete}, " +
      s"output ${args.output}")

  def setup(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(input).getParent)
    // the pbf is splittable by its blob boundaries
    inputBytes = planet.write(input)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(inputBytes / (2L * cpus), 64L << 10).toString)
  }

  override def beforePass(spark: SparkSession, pass: Int): Unit =
    FileTree.deleteRecursively(Paths.get(outDir))

  def pass(spark: SparkSession, t: Tracer): Unit =
    if (!t.enabled) OsmSplit.run(spark, args)
    else {
      val watch = new StepWatch(s"$outDir/metrics.jsonl")
      watch.start()
      try OsmSplit.run(spark, args) finally watch.stop()
      watch.addSpans(t)
    }

  def check(spark: SparkSession, pass: Int): Seq[String] = {
    val digest = FileTree.digest(outDir, FileTree.filesUnder(outDir, _ == "areas.list") ++ FileTree.filesUnder(tilesDir))
    firstDigest match {
      case Some(d) =>
        if (d == digest) Nil else Seq(s"pass $pass: areas.list or tile bytes differ from pass 0")
      case None =>
        firstDigest = Some(digest)
        readBack(spark) ++ complete()
    }
  }

  /** Keep-complete, checked tile by tile on the decoded tiles: every node of
    * a way, and every node and way member of a relation, is in each tile
    * that holds the way or relation. The tiles also hold exactly the rows
    * the split reports as written. */
  private def complete(): Seq[String] = {
    val tiles = FileTree.filesUnder(tilesDir, _.endsWith(".o5m"))
    var rows = 0L
    val problems = tiles.flatMap { f =>
      val in = new java.io.BufferedInputStream(Files.newInputStream(f), 1 << 16)
      val ents = try new O5mReader(in).toVector finally in.close()
      rows += ents.size
      val ids = ents.groupBy(_.kind).view.mapValues(_.map(_.id).toSet).toMap
        .withDefaultValue(Set.empty[Long])
      val missing =
        ents.filter(_.kind == OsmKind.Way).flatMap(w => w.refs.filterNot(ids(OsmKind.Node))
          .map(r => s"way ${w.id} lacks node $r")) ++
        ents.filter(_.kind == OsmKind.Relation).flatMap(r => r.members
          .filter(m => m.mtype != OsmKind.Relation && !ids(m.mtype)(m.ref))
          .map(m => s"relation ${r.id} lacks ${m.mtype} ${m.ref}"))
      missing.take(3).map(m => s"tile ${f.getFileName}: $m (${missing.size} missing members)")
    }
    val reported = StepWatch.lines(s"$outDir/metrics.jsonl")
      .flatMap(_.get("rows_written")).map(_.toLong).sum
    problems.take(10) ++
      (if (rows == reported) Nil
       else Seq(s"${tiles.size} tiles hold $rows entities, the split reports $reported written"))
  }

  /** Every input entity is in some tile, and every tile entity is an input entity. */
  private def readBack(spark: SparkSession): Seq[String] = {
    val keys = Seq("kind", "id")
    val written = spark.read.format("osm").load(tilesDir).select(keys.map(col): _*).distinct()
      .withColumn("in_tiles", lit(1))
    val source = spark.read.format("osm").load(input).select(keys.map(col): _*)
      .withColumn("in_input", lit(1))
    val r = written.join(source, keys, "full_outer")
      .agg(count(lit(1)), count(col("in_tiles")), count(col("in_input"))).collect()(0)
    val (all, inTiles, inInput) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (all == planet.entities && inTiles == all && inInput == all) Nil
    else Seq(s"tiles hold ${inTiles} distinct entities, the input ${inInput} of ${planet.entities}; " +
      s"${all - inTiles} input entities are in no tile, ${all - inInput} tile entities are not in the input")
  }

  /** Full decode of the input (every column referenced), as its own call. */
  override def traceExtras(spark: SparkSession, t: Tracer): Unit = {
    t.span("sources.scan") {
      spark.read.format("osm").load(input)
        .agg(sum(col("id")), sum(col("lat7").cast("long")), sum(col("lon7").cast("long")),
          sum(size(col("tags"))), sum(size(col("refs"))), sum(size(col("members"))),
          sum(col("version").cast("long"))).collect()
    }
    val cfg = args.toConfig
    val nodesMu = spark.read.format("osm").load(input).where(col("kind") === "node")
      .select(OsmSplit.mapUnitCol(col("lat7")).as("lat_mu"),
        OsmSplit.mapUnitCol(col("lon7")).as("lon_mu"))
    val grid = t.span("density.grid") {
      DensityJob.collectGrid(nodesMu, col("lat_mu"), col("lon_mu"),
        DensityJob.bbox(nodesMu, col("lat_mu"), col("lon_mu")), cfg.resolution)
    }
    t.span("solver.solve")(SplitPipeline.solve(grid, cfg))
  }

  def layers(spark: SparkSession, t: Tracer, tc: TaskCollector, qc: QueryCollector): Seq[Metric] = {
    val lines = StepWatch.lines(s"$outDir/metrics.jsonl")
    def sumOf(phase: String, field: String): Double =
      lines.filter(_.get("phase").contains(phase)).flatMap(_.get(field)).map(_.toDouble).sum
    val tiles = scala.io.Source.fromFile(s"$outDir/areas.list")
    val nTiles = try tiles.getLines().count(_.matches("^\\d{8}:.*")) finally tiles.close()
    val scanBytes = t.find("sources.scan").map(tc.tasksIn(_).map(_.bytesRead).sum).getOrElse(0L)
    val rowsWritten = sumOf("dist", "rows_written")
    Seq(
      Metric("sources.read_amplification", scanBytes.toDouble / inputBytes, "ratio"),
      Metric("solver.tiles", nTiles, "count"),
      Metric("assign.problems", sumOf("gen-problem-list", "problems"), "count"),
      Metric("app.pairs_rows", sumOf("dist_pairs", "rows"), "count"),
      Metric("output.rows_written", rowsWritten, "count"),
      Metric("output.dup_ratio", rowsWritten / planet.entities, "ratio"),
      Metric("output.out_bytes_per_in_byte", FileTree.bytesUnder(tilesDir).toDouble / inputBytes,
        "ratio")) ++
      Seq("way_membership" -> "assign.way_membership", "rel_closure" -> "assign.rel_closure",
        "assign_pairs" -> "app.assign_pairs", "tile_sink" -> "output.tile_sink",
        "density.grid" -> "density.grid").flatMap { case (step, span) =>
        TaskCollector.stepMetrics(step, t.find(span).map(tc.tasksIn).getOrElse(Nil))
      }
  }
}

/**
 * Follows the `"phase":"timing"` lines `OsmSplit.run` appends to
 * metrics.jsonl: a polling thread notes when each line appears, so each
 * step becomes a span [seen - sec, seen]. The interval between the
 * problem_list and assign_pairs steps is the handle-problem-list phase.
 */
final class StepWatch(path: String) {
  private val seen = ArrayBuffer.empty[(String, Long)]
  @volatile private var running = true
  private val thread = new Thread(() => {
    var size = 0L
    var text = ""
    while (running) {
      val f = new java.io.File(path)
      val now = Clock.now
      if (f.length() != size) {
        val all = try new String(Files.readAllBytes(f.toPath), "UTF-8") catch { case _: Exception => text }
        if (all.length > text.length && all.endsWith("\n")) {
          all.substring(text.length).split("\n").filter(_.nonEmpty)
            .foreach(l => seen.synchronized(seen += ((l, now))))
          text = all
          size = all.getBytes("UTF-8").length
        }
      }
      Thread.sleep(1)
    }
  }, "perfbench-step-watch")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { Thread.sleep(5); running = false; thread.join() }

  def addSpans(t: Tracer): Unit = {
    val steps = seen.synchronized(seen.toSeq).flatMap { case (l, at) =>
      val m = StepWatch.parse(l)
      if (m.get("phase").contains("timing"))
        Some((m("step"), at - (m("sec").toDouble * 1e9).toLong, at))
      else None
    }
    steps.foreach { case (step, s, e) =>
      t.add(StepWatch.SpanOf.getOrElse(step, s"app.$step"), s, e)
    }
    for ((_, _, plEnd) <- steps.find(_._1 == "problem_list");
         (_, apStart, _) <- steps.find(_._1 == "assign_pairs"))
      t.add("app.handle_problem_list", plEnd, apStart)
  }
}

object StepWatch {
  val SpanOf: Map[String, String] = Map(
    "split_solve" -> "solver.split_solve", "node_assignment" -> "assign.node",
    "way_membership" -> "assign.way_membership", "rel_closure" -> "assign.rel_closure",
    "rel_membership" -> "assign.rel_membership", "problem_list" -> "output.problem_list",
    "assign_pairs" -> "app.assign_pairs", "tile_sink" -> "output.tile_sink",
    "dist_metrics" -> "app.dist_metrics")

  private val Field = "\"([a-z_]+)\":(\"[^\"]*\"|[-0-9.eE]+)".r

  /** Flat JSON object of string and number fields, as metrics.jsonl writes them. */
  def parse(line: String): Map[String, String] =
    Field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap

  def lines(path: String): Seq[Map[String, String]] =
    if (!Files.exists(Paths.get(path))) Nil
    else Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq.map(parse)
}
