package perfbench

import java.nio.file.Paths

import graft.assign.TileAssigner
import graft.density.DensityJob
import graft.geo.{CoordSynthesis, TileRect}
import graft.model.InterleavedCorpus
import graft.pipeline.{SplitConfig, SplitPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The corpus pipeline in the shape of the repository's scoreboard run,
 * with each step called directly: density grid fused with the input span
 * fingerprint, BSP solve, broadcast-index probe and per-tile fan-out, and
 * the partitioned parquet write of the full span rows. The corpus is
 * `InterleavedCorpus.synthesize` over a seed-derived id range, written
 * once per setup. Bounds and `maxNodes` = docs / 25 follow the scoreboard.
 */
final class CorpusWorkload(docs: Long, seed: Long, cpus: Int, work: String) extends Workload {
  private val offset = (Planet.mix(seed) & 0x3FFL) * 1000000L
  private val corpus = s"$work/input/corpus"
  private val outDir = s"$work/out/tiles"
  private var inputBytes = 0L
  private var sourceFp = 0L
  private var inFp = 0L
  private var tiles = 0

  private val cfg = SplitConfig(maxNodes = math.max(docs / 25, 100L), trim = true,
    bounds = Some(TileRect(CoordSynthesis.LatMin, CoordSynthesis.LonMin,
      CoordSynthesis.LatMax, CoordSynthesis.LonMax)))

  def items: Long = docs
  def attemptsPerPass: Int = 1
  def describe: Seq[String] = Seq(
    s"input: $corpus, $docs documents from id $offset, $inputBytes bytes of parquet, seed $seed",
    s"split: max-nodes ${cfg.maxNodes}, resolution ${cfg.resolution}")

  def setup(spark: SparkSession): Unit = {
    InterleavedCorpus.synthesize(spark, docs, partitions = 2 * cpus, offset = offset)
      .write.mode("overwrite").parquet(corpus)
    inputBytes = FileTree.bytesUnder(corpus, _.endsWith(".parquet"))
    sourceFp = InterleavedCorpus.corpusFingerprint(spark.read.parquet(corpus))
  }

  override def beforePass(spark: SparkSession, pass: Int): Unit =
    FileTree.deleteRecursively(Paths.get(outDir))

  private val rowFp =
    InterleavedCorpus.spanFingerprint(col("spans")).bitwiseXOR(xxhash64(col("doc_id")))

  def pass(spark: SparkSession, t: Tracer): Unit = {
    val points = SplitPipeline.pointsOf(spark.read.parquet(corpus))
    val (grid, fp) = t.span("density.grid") {
      DensityJob.collectGridWithXor(points, col("lat_mu"), col("lon_mu"), rowFp,
        cfg.bounds.get, cfg.resolution)
    }
    inFp = fp
    val areas = t.span("solver.solve")(SplitPipeline.solve(grid, cfg))
    tiles = areas.size
    val assigned = t.span("assign.probe") {
      TileAssigner.explodeByTile(
        TileAssigner.withTileIds(spark, points, col("lat_mu"), col("lon_mu"),
          SplitPipeline.buildIndex(areas, cfg), cfg.nearestFallback),
        cfg.startMapId)
        .drop("lat_mu", "lon_mu")
        .localCheckpoint(true)
    }
    t.span("output.parquet_sink")(TileAssigner.writePartitioned(assigned, outDir))
  }

  /** The written rows, deduplicated per document, carry the input's span
    * sequences: same document count, one span sequence per document, and
    * the fingerprint of the corpus as written in setup, which the density
    * step's fused fingerprint must match too. */
  def check(spark: SparkSession, pass: Int): Seq[String] = {
    val r = spark.read.parquet(outDir).select(col("doc_id"), rowFp.as("rfp")).distinct()
      .agg(count(lit(1)), countDistinct(col("doc_id")), expr("bit_xor(rfp)"))
      .collect()(0)
    val (rows, ids, outFp) = (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    if (rows == docs && ids == docs && outFp == sourceFp && inFp == sourceFp) Nil
    else Seq(s"pass $pass: $ids documents in $rows distinct span sequences of $docs, " +
      s"fingerprint out $outFp, density step $inFp, corpus $sourceFp")
  }

  def layers(spark: SparkSession, t: Tracer, tc: TaskCollector, qc: QueryCollector): Seq[Metric] = {
    val sink = t.find("output.parquet_sink")
    val rows = sink.map(tc.tasksIn(_).map(_.recordsWritten).sum).getOrElse(0L).toDouble
    Seq(
      Metric("solver.tiles", tiles, "count"),
      Metric("output.rows_written", rows, "count"),
      Metric("output.dup_ratio", rows / docs, "ratio"),
      Metric("output.out_bytes_per_in_byte",
        FileTree.bytesUnder(outDir, _.endsWith(".parquet")).toDouble / inputBytes, "ratio")) ++
      Seq("density.grid", "assign.probe", "output.parquet_sink").flatMap { step =>
        TaskCollector.stepMetrics(step, t.find(step).map(tc.tasksIn).getOrElse(Nil))
      }
  }
}
