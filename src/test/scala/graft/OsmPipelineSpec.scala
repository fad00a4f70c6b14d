package graft

import java.io.{BufferedInputStream, ByteArrayOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.GZIPInputStream
import scala.util.Random

import graft.app.{Main, OsmSplit, SplitterArgs}
import graft.formats._
import graft.sources.OsmScan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The OSM-file path end to end: DSv2 source (S1-S3) with pushdown,
 * byte-range-parallel PBF scanning, the per-tile sink (K1-K3), and the
 * OsmSplit pipeline's keep-complete semantics.
 */
class OsmPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmpDir(): String =
    Files.createTempDirectory("graft_osm").toString

  import OsmFixture.{corpus, writeFile}

  private def key(e: OsmEntity) = (e.kind, e.id)

  test("DSv2 source reads the same entities from o5m, xml.gz and pbf") {
    val es = corpus(1200)
    val dir = tmpDir()
    for (ext <- Seq("a.o5m", "b.osm.gz", "c.pbf")) writeFile(s"$dir/$ext", es)
    for (f <- Seq("a.o5m", "b.osm.gz", "c.pbf")) {
      val df = spark.read.format("osm").load(s"$dir/$f")
      assert(df.count() === es.size.toLong, f)
      val nodes = df.where(col("kind") === "node")
        .select("id", "lat7", "lon7").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(nodes === es.filter(_.kind == OsmKind.Node)
        .map(e => (e.id, e.lat7, e.lon7)).toSet, f)
      val tagged = df.where(col("kind") === "node" && size(col("tags")) > 0).count()
      assert(tagged === es.count(e => e.kind == OsmKind.Node && e.tags.nonEmpty).toLong, f)
      val rels = df.where(col("kind") === "relation")
        .select(col("id"), expr("transform(members, m -> concat(m.mtype, ':', m.ref, ':', m.role))"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).toVector)).toSet
      assert(rels === es.filter(_.kind == OsmKind.Relation)
        .map(e => (e.id, e.members.map(m => s"${m.mtype}:${m.ref}:${m.role}"))).toSet, f)
    }
  }

  test("kind filter and column pruning push into the OSM scan") {
    val dir = tmpDir()
    writeFile(s"$dir/in.o5m", corpus(600))
    val df = spark.read.format("osm").load(s"$dir/in.o5m")
      .where(col("kind") === "node").select("id", "lat7")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty)
    val scan = scans.head.asInstanceOf[OsmScan]
    // ways/relations skipped at the decoder, tags never materialized
    assert(scan.description().contains("OsmReadSpec(true,false,false,false)"),
      scan.description())
    assert(scan.readSchema().fieldNames.toSet.subsetOf(Set("kind", "id", "lat7")))
    assert(df.count() === 600L)
  }

  test("PBF byte-range splits decode every block exactly once") {
    val es = corpus(9000) // 9 node blocks + way/rel blocks at batchLimit 1000
    val dir = tmpDir()
    writeFile(s"$dir/in.pbf", es)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val df = spark.read.format("osm").load(s"$dir/in.pbf")
      val nParts = df.rdd.getNumPartitions
      assert(nParts > 3, s"expected multiple byte-range splits, got $nParts")
      val got = df.select("kind", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.length === es.size, "no loss and no double-decode across split boundaries")
      assert(got.toSet === es.map(key).toSet)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("o5m byte-range splits decode every reset segment exactly once") {
    val es = corpus(9000)
    val dir = tmpDir()
    // periodic reset markers (format-legal) make the file splittable
    val fos = new FileOutputStream(s"$dir/in.o5m")
    val w = new O5mWriter(fos, resetEvery = 4096)
    es.foreach(w.write); w.finish(); fos.close()

    // sequential ground truth, full fidelity (tags/refs/members),
    // catches any string-ring or delta-state desync at a boundary
    val seq = {
      val r = new O5mReader(new BufferedInputStream(new FileInputStream(s"$dir/in.o5m")))
      val v = r.toVector; r.close(); v
    }
    assert(seq.map(key).toSet === es.map(key).toSet)

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val df = spark.read.format("osm").load(s"$dir/in.o5m")
      val nParts = df.rdd.getNumPartitions
      assert(nParts > 3, s"expected multiple o5m byte-range splits, got $nParts")
      val got = df.selectExpr("kind", "id", "lat7", "lon7", "version",
        "transform(tags, t -> concat(t.key, '=', t.value))", "refs",
        "transform(members, m -> concat(m.mtype, ':', m.ref, ':', m.role))")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getSeq[String](5).toVector, r.getSeq[Long](6).toVector,
          r.getSeq[String](7).toVector))
      assert(got.length === es.size, "no loss and no double-decode across split boundaries")
      val want = es.map(e => (e.kind, e.id, if (e.hasCoords) e.lat7 else 0,
        if (e.hasCoords) e.lon7 else 0, e.version,
        e.tags.map(t => s"${t.key}=${t.value}").toVector, e.refs.toVector,
        e.members.map(m => s"${m.mtype}:${m.ref}:${m.role}").toVector))
      assert(got.toSet === want.toSet)

      // reference-layout file (no sync datasets): the planner probe
      // keeps it sequential — one task, exactly correct
      writeFile(s"$dir/plain.o5m", es)
      val df2 = spark.read.format("osm").load(s"$dir/plain.o5m")
      assert(df2.rdd.getNumPartitions === 1,
        "foreign o5m layouts must not be byte-range split")
      val got2 = df2.select("kind", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got2.length === es.size)
      assert(got2.toSet === es.map(key).toSet)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("o5m range ownership tiles the file for ARBITRARY split points") {
    // the planner uses uniform boundaries; the ownership contract must
    // hold for ANY cut points — including cuts inside a sync signature,
    // exactly on a reset, and sliver-sized ranges
    val es = corpus(3000)
    val dir = tmpDir()
    val f = s"$dir/in.o5m"
    val fos = new FileOutputStream(f)
    val w = new O5mWriter(fos, resetEvery = 2048)
    es.foreach(w.write); w.finish(); fos.close()
    val path = new org.apache.hadoop.fs.Path(f)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val len = fs.getFileStatus(path).getLen
    val want = es.map(key)

    val rnd = new Random(20260818)
    for (trial <- 0 until 25) {
      val k = 1 + rnd.nextInt(7)
      val cuts = (0L +: Vector.fill(k)(1L + (rnd.nextLong().abs % (len - 1))) :+ len)
        .distinct.sorted
      val got = cuts.sliding(2).flatMap { case Seq(s, e) =>
        val it = new graft.sources.O5mRangeIterator(fs, path, s, e, OsmReadSpec())
        try it.toVector.map(key) finally it.close()
      }.toVector
      assert(got.size === want.size,
        s"trial $trial cuts=${cuts.mkString(",")}: ${got.size} vs ${want.size}")
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
        want.groupBy(identity).view.mapValues(_.size).toMap, s"trial $trial")
    }
  }

  test("OsmSplit.mapUnitCol matches the reference parse arithmetic exactly") {
    import spark.implicits._
    val vals = Seq(0, 1, -1, 467000000, -467000000, 849999999, -850000000,
      1800000000, -1800000000, 123456789, -987654321)
    val got = vals.toDF("v7").select(OsmSplit.mapUnitCol(col("v7"))).collect().map(_.getInt(0))
    val want = vals.map { v7 =>
      val deg = (100L * v7).toDouble * (1d / 1000000000)
      graft.geo.MapUnits.toMapUnit(deg)
    }
    assert(got.toSeq === want)
  }

  test("end-to-end OSM pipeline: split, problem list, complete o5m tiles") {
    val es = corpus(4000)
    val dir = tmpDir()
    writeFile(s"$dir/in.o5m", es)
    val out = s"$dir/out"
    val Right(args) = SplitterArgs.parse(Seq(
      "--output-dir=" + out, "--max-nodes=1200", "--resolution=13",
      "--output=o5m", "--handle-element-version=keep", s"$dir/in.o5m"))
    assert(Main.run(spark, args) === "dist")

    // areas artifacts
    val areas = graft.output.AreaWriters.readAreasList(s"$out/areas.list")
    assert(areas.size > 1, "two hotspots must split")
    assert(new java.io.File(s"$out/template.args").isFile)

    // problem list names exactly the multi-tile ways/rels
    val (pw, pr) = graft.output.AreaWriters.readProblemList(s"$out/problem.list")
    assert(pw.nonEmpty, "hotspot-spanning ways must be problems")

    // handle-problem-list artifact covers the same problem links
    val linkTiles = spark.read.parquet(s"$out/link_tiles.parquet")
    val artifactWays = linkTiles.where(col("kind") === "way")
      .select("link_id").distinct().collect().map(_.getLong(0).toString).toSet
    assert(artifactWays === pw.toSet)
    val artifactRels = linkTiles.where(col("kind") === "relation")
      .select("link_id").distinct().collect().map(_.getLong(0).toString).toSet
    assert(artifactRels === pr.toSet)

    // tiles parse; keep-complete invariants hold
    val byId = es.map(e => key(e) -> e).toMap
    var waysSeen = Set.empty[Long]
    var relsSeen = Set.empty[Long]
    var decoded = 0L
    areas.foreach { ad =>
      val f = new java.io.File(s"$out/tiles", f"${ad.mapId}%08d.o5m")
      assert(f.isFile, s"missing tile ${f.getName}")
      val r = new O5mReader(new BufferedInputStream(new FileInputStream(f)))
      val tile = r.toVector
      r.close()
      decoded += tile.size
      val nodeIds = tile.filter(_.kind == OsmKind.Node).map(_.id).toSet
      val wayIds = tile.filter(_.kind == OsmKind.Way).map(_.id).toSet
      tile.filter(_.kind == OsmKind.Way).foreach { w =>
        waysSeen += w.id
        byId(OsmKind.Way -> w.id).refs.foreach(ref =>
          assert(nodeIds.contains(ref), s"way ${w.id} incomplete in tile ${ad.mapId}"))
      }
      tile.filter(_.kind == OsmKind.Relation).foreach { rel =>
        relsSeen += rel.id
        byId(OsmKind.Relation -> rel.id).members.foreach {
          case OsmMember(OsmKind.Node, ref, _) =>
            assert(nodeIds.contains(ref), s"rel ${rel.id} node $ref missing in ${ad.mapId}")
          case OsmMember(OsmKind.Way, ref, _) =>
            assert(wayIds.contains(ref), s"rel ${rel.id} way $ref missing in ${ad.mapId}")
          case _ => () // sub-relations verified via relsSeen totality
        }
      }
      // created_by dropped by the sink
      assert(tile.forall(_.tags.forall(_.key != "created_by")))
      // versions kept under --handle-element-version=keep
      assert(tile.forall(_.version == 1))
    }
    assert(waysSeen === es.filter(_.kind == OsmKind.Way).map(_.id).toSet)
    assert(relsSeen === es.filter(_.kind == OsmKind.Relation).map(_.id).toSet)

    // node totality: every node appears in >= 1 tile
    val allTileNodes = areas.flatMap { ad =>
      val r = new O5mReader(new BufferedInputStream(new FileInputStream(
        new java.io.File(s"$out/tiles", f"${ad.mapId}%08d.o5m"))))
      val ids = r.filter(_.kind == OsmKind.Node).map(_.id).toVector
      r.close(); ids
    }.toSet
    assert(allTileNodes === es.filter(_.kind == OsmKind.Node).map(_.id).toSet)

    // the metrics.jsonl contract the benchmark reads: timing steps in
    // phase order, one gen-problem-list line, and rows_written equal to
    // the entities the tiles decode to
    val src = scala.io.Source.fromFile(s"$out/metrics.jsonl")
    val lines = try src.getLines().toVector finally src.close()
    val timing = """\{"phase":"timing","step":"([a-z_]+)","sec":[0-9]+\.[0-9]{3}\}""".r
    val steps = lines.collect { case timing(step) => step }
    assert(steps === Seq("split_solve", "node_assignment", "way_membership", "rel_closure",
      "rel_membership", "problem_list", "assign_pairs", "tile_sink", "dist_metrics"))
    assert(lines.count(_.contains("\"timing\"")) === steps.size, "malformed timing line")
    assert(lines.count(_.startsWith("""{"phase":"gen-problem-list","problems":""")) === 1)
    val written = lines.flatMap(""""rows_written":([0-9]+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong)
    assert(written === Seq(decoded))
  }

  test("tile sink: rerun overwrite, empty-area backfill") {
    import graft.geo.MapUnits
    import graft.output.{AreaDef, OsmTileSink}
    val es = corpus(4000)
    val dir = tmpDir()
    writeFile(s"$dir/in.o5m", es)
    val ents = spark.read.format("osm").load(s"$dir/in.o5m")
    // nodes split at 24E; ways/rels all west; a third area gets NOTHING
    val assigned = ents.withColumn("map_id",
      when(col("kind") === "node" && col("lon7") >= 240000000L, lit(8002))
        .otherwise(lit(8001)))
    def mu(deg: Double) = MapUnits.toMapUnit(deg)
    val areas = Seq(
      AreaDef(8001, graft.geo.TileRect(mu(8.0), mu(18.0), mu(18.0), mu(24.0))),
      AreaDef(8002, graft.geo.TileRect(mu(8.0), mu(24.0), mu(18.0), mu(30.0))),
      AreaDef(8003, graft.geo.TileRect(mu(-40.0), mu(-40.0), mu(-30.0), mu(-30.0))))
    val tilesDir = s"$dir/tiles"
    Files.createDirectories(java.nio.file.Paths.get(tilesDir))

    val written1 = OsmTileSink.write(assigned, tilesDir, "o5m", areas)
    assert(written1 === es.size.toLong)
    def tileBytes(id: Int): Array[Byte] =
      Files.readAllBytes(java.nio.file.Paths.get(tilesDir, f"$id%08d.o5m"))
    def tileEnts(id: Int): Vector[OsmEntity] = {
      val r = new O5mReader(new BufferedInputStream(new FileInputStream(
        new java.io.File(tilesDir, f"$id%08d.o5m"))))
      val v = r.toVector; r.close(); v
    }
    val east = tileEnts(8002)
    assert(east.nonEmpty && east.forall(e => e.kind == OsmKind.Node && e.lon7 >= 240000000L))
    assert(tileEnts(8001).map(key).toSet ++ east.map(key) === es.map(key).toSet)
    // the empty area still produced a parseable header-only file
    // (reference initForWrite parity; template.args references it)
    assert(tileEnts(8003).isEmpty)
    assert(new java.io.File(tilesDir).listFiles().forall(!_.getName.startsWith("_tmp_")))

    // rerun into the SAME directory: overwrite semantics (driver
    // pre-clean + first-wins rename) must reproduce identical bytes
    val before = Seq(8001, 8002, 8003).map(tileBytes)
    val written2 = OsmTileSink.write(assigned, tilesDir, "o5m", areas)
    assert(written2 === written1)
    Seq(8001, 8002, 8003).map(tileBytes).zip(before).zipWithIndex.foreach {
      case ((now, was), i) => assert(now.sameElements(was), s"tile index $i changed on rerun")
    }
  }

  test("streaming OSM source: new file drops arrive as micro-batches") {
    val dir = tmpDir()
    writeFile(s"$dir/a.o5m", corpus(400))
    val q = spark.readStream.format("osm").load(dir)
      .groupBy("kind").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("osm_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val c1 = spark.table("osm_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(c1("node") === 400L)
      assert(c1("way") === 300L && c1("relation") === 30L)
      // second drop: only the NEW file is read (counts accumulate)
      writeFile(s"$dir/b.pbf", corpus(200))
      q.processAllAvailable()
      val c2 = spark.table("osm_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(c2("node") === 600L)
      assert(c2("way") === 600L && c2("relation") === 60L)
    } finally q.stop()
    // offset round-trip (incl. escaping)
    val off = graft.sources.OsmFilesOffset(Seq("/p/a \"b\".o5m", "/p/c.pbf"))
    assert(graft.sources.OsmFilesOffset.fromJson(off.json()).files.toSet ===
      Set("/p/a \"b\".o5m", "/p/c.pbf"))
  }

  test("tiles/ holds exactly the files template.args names, in every format") {
    val dir = tmpDir()
    writeFile(s"$dir/in.pbf", corpus(1500))
    Seq("o5m", "xml", "pbf").foreach { fmt =>
      val out = s"$dir/out_$fmt"
      val Right(args) = SplitterArgs.parse(Seq(
        "--output-dir=" + out, "--max-nodes=800", s"--output=$fmt", s"$dir/in.pbf"))
      assert(Main.run(spark, args) === "dist")
      val src = scala.io.Source.fromFile(s"$out/template.args")
      val named = try src.getLines().collect {
        case l if l.startsWith("input-file: ") => l.stripPrefix("input-file: ")
      }.toSet finally src.close()
      val listed = new java.io.File(s"$out/tiles").listFiles().map(_.getName).toSet
      assert(named.size > 1)
      assert(listed === named, s"$fmt tiles")
    }
  }

  test("xml and pbf tile sinks produce parseable, equivalent tiles") {
    val es = corpus(1500)
    val dir = tmpDir()
    writeFile(s"$dir/in.pbf", es)
    val results = Seq("xml", "pbf").map { fmt =>
      val out = s"$dir/out_$fmt"
      val Right(args) = SplitterArgs.parse(Seq(
        "--output-dir=" + out, "--max-nodes=800", s"--output=$fmt", s"$dir/in.pbf"))
      assert(Main.run(spark, args) === "dist")
      val areas = graft.output.AreaWriters.readAreasList(s"$out/areas.list")
      val tiles = areas.map { ad =>
        val ext = graft.output.OsmTileSink.extensionOf(fmt)
        val f = new java.io.File(s"$out/tiles", f"${ad.mapId}%08d.$ext")
        assert(f.isFile)
        val entities = fmt match {
          case "xml" =>
            val r = new OsmXmlReader(new GZIPInputStream(new FileInputStream(f)))
            val v = r.toVector; r.close(); v
          case _ =>
            val r = new PbfReader(new BufferedInputStream(new FileInputStream(f)))
            val v = r.toVector; r.close(); v
        }
        ad.mapId -> entities.map(key).toSet
      }.toMap
      tiles
    }
    // same membership through either sink format
    assert(results(0) === results(1))
  }
}
