package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: set up the workload several times, run a cold first
 * pass, then closed-loop passes (each starts when the previous one and its
 * check have ended) until `--seconds` have passed, and with `--trace 1` one
 * more pass with the collectors registered. Writes the result as JSON to
 * `--result`; perfbench/run.py prints it.
 */
object Main {
  /** Sizes are fixed per workload; the seed varies the content. */
  val PlanetNodes = 100000
  val CorpusDocs = 50000L
  val SetupRounds = 3

  val EndToEnd: Seq[(String, String)] = Seq("wall_s" -> "s", "items_per_s" -> "1/s",
    "cpu_s" -> "s", "first_pass_s" -> "s", "setup_s" -> "s")

  private val TaskSteps = Seq("way_membership", "rel_closure", "assign_pairs", "tile_sink",
    "density.grid", "assign.probe", "output.parquet_sink")

  /** Every per-layer metric; a workload whose layer does no work reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.read_amplification" -> "ratio",
    "density.grid_s" -> "s", "solver.split_solve_s" -> "s", "solver.solve_s" -> "s",
    "solver.tiles" -> "count",
    "assign.node_s" -> "s", "assign.probe_s" -> "s", "assign.way_membership_s" -> "s",
    "assign.rel_closure_s" -> "s", "assign.rel_membership_s" -> "s", "assign.problems" -> "count",
    "app.assign_pairs_s" -> "s", "app.pairs_rows" -> "count",
    "app.handle_problem_list_s" -> "s", "app.dist_metrics_s" -> "s", "app.other_s" -> "s",
    "output.tile_sink_s" -> "s", "output.parquet_sink_s" -> "s", "output.problem_list_s" -> "s",
    "output.rows_written" -> "count", "output.dup_ratio" -> "ratio",
    "output.out_bytes_per_in_byte" -> "ratio") ++
    TaskSteps.flatMap(s => Seq(s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB",
      s"$s.tasks" -> "count", s"$s.task_skew" -> "ratio")) ++
    Seq("queries.geo_s", "queries.link_s", "queries.rel_s", "queries.text_s",
      "ops.dedup_s", "ops.similarity_s", "ops.analysis_s", "ops.multimodal_s")
      .map(_ -> "s") ++
    Seq("queries.plan_s" -> "s", "queries.exec_s" -> "s", "queries.jobs" -> "count",
      "queries.stages" -> "count") ++
    CatalogWorkload.Heaviest.map(n => s"query.${n}_s" -> "s") ++
    Seq("codegen.compile_s" -> "s", "codegen.max_method_bytes" -> "bytes", "jvm.gc_s" -> "s",
      "jvm.heap_live_peak_mb" -> "MB", "trace.overhead_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, data: String, python: String,
                        oracle: String, result: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m("data"), m("python"), m("oracle"), m("result"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(o: Opts): Workload = o.workload match {
    case "osm_keep_complete" => new OsmWorkload(PlanetNodes, o.seed, o.cpus, o.work)
    case "corpus_split" => new CorpusWorkload(CorpusDocs, o.seed, o.cpus, o.work)
    case "query_catalog" => new CatalogWorkload(o.data, o.seed, o.work, o.python, o.oracle)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class PassStat(wall: Double, cpu: Double, heapMb: Double)

  /** Exits 0 after writing the result, 1 on any error (a non-daemon
    * Spark thread must not keep a failed run alive). */
  def main(args: Array[String]): Unit = {
    try run(parse(args))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  private def run(o: Opts): Unit = {
    HeapWatch.install()
    val w = workload(o)
    val notes = ArrayBuffer.empty[String]

    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(o)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    notes ++= w.describe
    notes += f"setup rounds: ${setups.map(s => f"$s%.3f").mkString(" ")} s"

    var attempted = 0L
    var failed = 0L
    def runPass(id: Int, t: Tracer): PassStat = {
      w.beforePass(spark, id)
      System.gc()
      HeapWatch.reset()
      val c0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      val err = try { t.span("pass")(w.pass(spark, t)); None }
                catch { case e: Exception => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs - c0) / 1e9
      val heap = (if (HeapWatch.peakBytes > 0) HeapWatch.peakBytes else Jvm.heapUsedBytes) / 1e6
      val problems = err match {
        case Some(e) => Seq.fill(w.attemptsPerPass)(s"pass $id threw $e")
        case None => w.check(spark, id)
      }
      attempted += w.attemptsPerPass
      failed += math.min(problems.size, w.attemptsPerPass)
      problems.take(20).foreach(p => notes += s"FAILED: $p")
      PassStat(wall, cpu, heap)
    }

    val cg0 = Codegen.snap()
    val first = runPass(0, new Tracer(0, enabled = false))
    val cg1 = Codegen.snap()
    val warm = ArrayBuffer.empty[PassStat]
    val start = System.nanoTime()
    do warm += runPass(warm.size + 1, new Tracer(warm.size + 1, enabled = false))
    while ((System.nanoTime() - start) / 1e9 < o.seconds)
    notes += f"first pass ${first.wall}%.3f s, ${first.heapMb}%.0f MB; ${warm.size} timed passes: " +
      warm.map(p => f"${p.wall}%.3f s ${p.heapMb}%.0f MB").mkString(", ")

    val wallS = median(warm.map(_.wall).toSeq)
    val metrics: Seq[Metric] =
      if (!o.trace) Seq(
        Metric("wall_s", wallS, "s"),
        Metric("items_per_s", w.items / wallS, "1/s"),
        Metric("cpu_s", median(warm.map(_.cpu).toSeq), "s"),
        Metric("first_pass_s", first.wall, "s"),
        Metric("setup_s", median(setups), "s"))
      else {
        val t = new Tracer(warm.size + 1, enabled = true)
        val gc0 = Jvm.gcMs
        val (tc, qc) = (new TaskCollector, new QueryCollector)
        val traced = Collectors.around(spark, tc, qc) {
          w.traceExtras(spark, t)
          runPass(warm.size + 1, t)
        }
        val tracedWall = traced.wall
        val layers = w.layers(spark, t, tc, qc) ++ common(t, tc, qc)
        writeSpans(o, t)
        val pass = t.find("pass").get
        val named = t.spans.filter(_.parent == pass.id).map(_.seconds).sum
        layers ++ Seq(
          Metric("app.other_s", math.max(0.0, tracedWall - named), "s"),
          Metric("codegen.compile_s", (cg1.compileMs - cg0.compileMs) / 1000, "s"),
          Metric("codegen.max_method_bytes", Codegen.snap().maxMethodBytes.toDouble, "bytes"),
          Metric("jvm.gc_s", (Jvm.gcMs - gc0) / 1000.0, "s"),
          Metric("jvm.heap_live_peak_mb", traced.heapMb, "MB"),
          Metric("trace.overhead_s", tracedWall - wallS, "s"))
      }

    val wanted = if (o.trace) PerLayer else EndToEnd
    val byName = metrics.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the declared list: ${unknown.mkString(", ")}")
    val out = wanted.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }
    writeResult(o, failed == 0, attempted, failed, out, notes.toSeq)
    spark.stop()
  }

  /** Layer metrics every workload has: named step times and the planning
    * and execution split of the pass's Dataset actions. */
  private def common(t: Tracer, tc: TaskCollector, qc: QueryCollector): Seq[Metric] = {
    val pass = t.find("pass").get
    val qs = qc.in(pass)
    Seq("sources.scan", "density.grid", "solver.split_solve", "solver.solve", "assign.node",
      "assign.probe", "assign.way_membership", "assign.rel_closure", "assign.rel_membership",
      "app.assign_pairs", "app.handle_problem_list", "app.dist_metrics", "output.tile_sink",
      "output.parquet_sink", "output.problem_list")
      .map(s => Metric(s"${s}_s", t.seconds(s), "s")) ++
      Seq(Metric("queries.plan_s", qs.map(_.planMs).sum / 1000.0, "s"),
        Metric("queries.exec_s", qs.map(_.execNs).sum / 1e9, "s"),
        Metric("queries.jobs", tc.jobsIn(pass), "count"),
        Metric("queries.stages", tc.stagesIn(pass), "count"))
  }

  private def writeSpans(o: Opts, t: Tracer): Unit = {
    val dir = Paths.get(o.work, "trace")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("spans.jsonl"), t.spans.map(_.json).mkString("", "\n", "\n"))
  }

  private def writeResult(o: Opts, correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[Metric], notes: Seq[String]): Unit = {
    def q(s: String) = Oracle.mapper.writeValueAsString(s)
    def num(v: Double) = {
      require(!v.isNaN && !v.isInfinite, s"metric value $v")
      java.lang.Double.toString(v)
    }
    val ms = metrics.map(m => s"${q(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${q(m.unit)}}")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "notes": [${notes.map(q).mkString(", ")}]}"""
    Files.writeString(Paths.get(o.result), json + "\n")
  }
}
