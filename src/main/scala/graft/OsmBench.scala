package graft

import java.io.{BufferedOutputStream, FileOutputStream}

import graft.app.{OsmSplit, SplitterArgs}
import graft.formats._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Standalone OSM format-path benchmark (sources S1-S3, sinks K1-K3,
 * and the OsmSplit end-to-end pipeline) — deliberately OUTSIDE
 * graft.Bench's driver-run envelope so the scoreboard protocol keeps
 * its wall-clock budget. Run manually at two parallelism levels for
 * the scaling evidence recorded in BENCH/BASELINE.md:
 *
 *   SPARK_GRAFT_CPUS=8  sbt -batch "runMain graft.OsmBench"
 *   SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.OsmBench"
 *
 * Corpus: a deterministic planet-style synthesis (two dense hotspots,
 * tagged nodes, ways chaining nearby nodes with cross-hotspot problem
 * ways, nested relations — the OsmPipelineSpec shape at bench scale),
 * written ONCE (untimed setup) as a single `planet.pbf` (the
 * byte-range-splittable scale path: one file fans out across the
 * cluster), a single `planet.o5m`, and an 8-shard o5m directory (the
 * file-parallel path for the non-splittable formats).
 *
 * Phases (each: untimed warmup, then min-of-2 — same noise defense as
 * the Bench query suite):
 *   scan_pbf       full decode of every column from one .pbf file
 *   scan_pbf_ways  kind-filter pushdown (way blocks only; node blocks
 *                  are skipped by the decoder, not filtered post-hoc)
 *   scan_o5m_shards full decode of the 8-file o5m directory
 *   split_e2e      OsmSplit.run: density -> solve -> membership ->
 *                  problem list -> per-tile .o5m files
 *
 * Prints ONE JSON line with per-phase seconds, entities/s and MB/s,
 * plus the input-partition counts proving the PBF byte-range split.
 */
object OsmBench {

  /** splitmix64 — deterministic per-index randomness. */
  private def mix(i: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def bounded(h: Long, n: Int): Int = ((h & Long.MaxValue) % n).toInt

  /** Fresh iterator over the synthetic corpus (re-iterable). */
  private def entities(nNodes: Int): Iterator[OsmEntity] = {
    val nWays = nNodes / 10
    val nRels = nNodes / 100
    val nodes = Iterator.tabulate(nNodes) { i =>
      val hot = i % 2
      val baseLat = if (hot == 0) 100000000 else 140000000
      val baseLon = if (hot == 0) 200000000 else 260000000
      OsmEntity.node(1000L + i, baseLat + bounded(mix(i), 20000000),
        baseLon + bounded(mix(i + nNodes), 20000000), version = 1,
        tags = if (i % 20 == 0)
          Vector(OsmTag("amenity", "cafe"), OsmTag("name", s"n$i"))
        else Vector.empty)
    }
    val ways = Iterator.tabulate(nWays) { i =>
      val base = 1000L + (i * 8) % nNodes
      val refs =
        if (i % 5 == 0) Vector(base, base + 1, base + 2) // crosses hotspots
        else Vector.tabulate(4)(j => 1000L + (i * 8 + 2 * j) % nNodes)
      OsmEntity.way(50000000L + i, refs, version = 1,
        tags = Vector(OsmTag("highway", "track")))
    }
    val rels = Iterator.tabulate(nRels) { i =>
      val members =
        Vector(OsmMember(OsmKind.Way, 50000000L + (i * 5) % nWays, "outer"),
          OsmMember(OsmKind.Node, 1000L + (i * 7) % nNodes, "")) ++
          (if (i % 3 == 0 && i + 1 < nRels)
             Vector(OsmMember(OsmKind.Relation, 80000000L + i + 1, "subarea"))
           else Vector.empty)
      OsmEntity.relation(80000000L + i, members, version = 1,
        tags = Vector(OsmTag("type", "multipolygon")))
    }
    nodes ++ ways ++ rels
  }

  private def writeAll(path: String, es: Iterator[OsmEntity],
      o5mResetEvery: Long = 0L): Long = {
    val fos = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    graft.sources.OsmFileSource.formatOf(path) match {
      case "pbf" => val w = new PbfWriter(fos); es.foreach(w.write); w.finish()
      case "o5m" =>
        val w = new O5mWriter(fos, resetEvery = o5mResetEvery)
        es.foreach(w.write); w.finish()
      case other => throw new IllegalArgumentException(
        s"unsupported bench corpus format: $other")
    }
    fos.close()
    new java.io.File(path).length()
  }

  /** One pass over the corpus dispatching to `n` o5m shard writers
    * (writer index = id % n) — identical shards to n filtered passes
    * at 1/n the generation cost. */
  private def writeShards(dir: String, n: Int, es: Iterator[OsmEntity]): Long = {
    val sinks = Array.tabulate(n) { s =>
      val fos = new BufferedOutputStream(
        new FileOutputStream(s"$dir/part-$s.o5m"), 1 << 16)
      (fos, new O5mWriter(fos))
    }
    es.foreach(e => sinks((e.id % n).toInt)._2.write(e))
    sinks.foreach { case (fos, w) => w.finish(); fos.close() }
    (0 until n).map(s => new java.io.File(s"$dir/part-$s.o5m").length()).sum
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  /** Untimed warmup + min-of-2 (box-noise defense, cf. Bench queries). */
  private def minOf2(f: => Unit): Double = { f; math.min(timed(f), timed(f)) }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nNodes = sys.env.getOrElse("SPARK_GRAFT_OSM_NODES", "4000000").toInt
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nEnts = nNodes.toLong + nNodes / 10 + nNodes / 100
    val dir = java.nio.file.Files.createTempDirectory("graft_osm_bench").toString

    // ---- setup (untimed): write the three input layouts ----
    // planet.o5m carries periodic reset markers (resetEvery = 4 MiB) so
    // the SINGLE file byte-range-splits like the pbf (the engine's tile
    // sink writes none, keeping byte parity with the reference writer)
    val pbfBytes = writeAll(s"$dir/planet.pbf", entities(nNodes))
    val o5mBytes = writeAll(s"$dir/planet.o5m", entities(nNodes),
      o5mResetEvery = 4L << 20)
    val shardDir = s"$dir/shards"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(shardDir))
    val shardBytes = writeShards(shardDir, 8, entities(nNodes))
    try new ProcessBuilder("sync").start().waitFor()
    catch { case _: Exception => () }

    // fan the single planet.pbf out across the level's cores: the
    // scan splits PBF byte ranges at spark.sql.files.maxPartitionBytes
    // (default 128 MB — one partition for any test-size file)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(pbfBytes / (cpus * 2L), 1L << 20).toString)

    // full-decode aggregate: references every column so nothing prunes
    def fullScan(path: String): Unit = {
      val df = spark.read.format("osm").load(path)
      df.agg(sum(col("id")), sum(col("lat7").cast("long")),
        sum(col("lon7").cast("long")), sum(size(col("tags"))),
        sum(size(col("refs"))), sum(size(col("members"))),
        sum(col("version").cast("long"))).collect()
    }

    val pbfParts = spark.read.format("osm").load(s"$dir/planet.pbf")
      .rdd.getNumPartitions
    val o5mParts = spark.read.format("osm").load(s"$dir/planet.o5m")
      .rdd.getNumPartitions
    val o5mShardParts = spark.read.format("osm").load(shardDir)
      .rdd.getNumPartitions

    val tScanPbf = minOf2(fullScan(s"$dir/planet.pbf"))
    val tScanPbfWays = minOf2 {
      spark.read.format("osm").load(s"$dir/planet.pbf")
        .where(col("kind") === "way")
        .agg(sum(col("id")), sum(size(col("refs")))).collect()
    }
    val tScanO5m = minOf2(fullScan(s"$dir/planet.o5m"))
    val tScanShards = minOf2(fullScan(shardDir))

    // end-to-end split: maxNodes picked so the solver yields a real
    // multi-tile split at any corpus size (~50 tiles)
    val outDir = s"$dir/out"
    val splitArgs = SplitterArgs(maxNodes = math.max(nNodes / 50L, 1000L),
      output = "o5m", outputDir = outDir, inputs = Seq(s"$dir/planet.pbf"))
    val tSplit = timed { OsmSplit.run(spark, splitArgs) } // one-shot: e2e job
    val nTiles = new java.io.File(s"$outDir/tiles").listFiles()
      .count(_.getName.endsWith(".o5m"))
    // surface the per-step profile before the temp dir is cleaned up
    try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$outDir/metrics.jsonl")).forEach { l =>
      if (l.contains("\"timing\"")) System.err.println(s"[osm-bench] $l")
    } catch { case _: Exception => () }

    def mbps(bytes: Long, sec: Double) = bytes / 1e6 / sec
    def eps(sec: Double) = nEnts / sec
    // locale-independent number formatting (the f interpolator uses
    // the JVM default locale — comma decimals would break the JSON)
    def fmt(v: Double, prec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    val json =
      s"""{"bench":"osm","cpus":$cpus,"nodes":$nNodes,"entities":$nEnts,""" +
        s""""pbf_mb":${fmt(pbfBytes / 1e6, 1)},"o5m_mb":${fmt(o5mBytes / 1e6, 1)},""" +
        s""""shards_mb":${fmt(shardBytes / 1e6, 1)},""" +
        s""""pbf_partitions":$pbfParts,"o5m_partitions":$o5mParts,""" +
        s""""o5m_shard_partitions":$o5mShardParts,""" +
        s""""scan_pbf_sec":${fmt(tScanPbf, 3)},"scan_pbf_ents_per_sec":${fmt(eps(tScanPbf), 0)},""" +
        s""""scan_pbf_mb_per_sec":${fmt(mbps(pbfBytes, tScanPbf), 1)},""" +
        s""""scan_pbf_ways_sec":${fmt(tScanPbfWays, 3)},""" +
        s""""scan_o5m_sec":${fmt(tScanO5m, 3)},"scan_o5m_ents_per_sec":${fmt(eps(tScanO5m), 0)},""" +
        s""""scan_o5m_mb_per_sec":${fmt(mbps(o5mBytes, tScanO5m), 1)},""" +
        s""""scan_o5m_shards_sec":${fmt(tScanShards, 3)},""" +
        s""""scan_o5m_shards_ents_per_sec":${fmt(eps(tScanShards), 0)},""" +
        s""""scan_o5m_shards_mb_per_sec":${fmt(mbps(shardBytes, tScanShards), 1)},""" +
        s""""split_e2e_sec":${fmt(tSplit, 3)},"split_e2e_ents_per_sec":${fmt(eps(tSplit), 0)},""" +
        s""""tiles":$nTiles}"""
    println(json)
    // SPARK_GRAFT_OSM_OUT redirects the artifact (e.g. the 10x stress
    // run) so it does not clobber the committed two-level result
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_OSM_OUT",
        "osm_bench_result.json")), json + "\n")
    catch { case _: Exception => () }
    spark.stop()
    try new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    catch { case _: Throwable => () }
  }
}
