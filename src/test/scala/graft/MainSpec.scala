package graft

import graft.app.{Main, SplitterArgs}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Arg-surface parity with the reference (`args/SplitterParams.java`,
 * `Main.java:408-460`): option names, defaults, validation errors and
 * the --stop-after phase hooks.
 */
class MainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("defaults mirror SplitterParams") {
    val a = SplitterArgs.parse(Seq("in.parquet")).toOption.get
    assert(a.mapid === 63240001)
    assert(a.maxNodes === 1600000L)
    assert(a.resolution === 13)
    assert(a.keepComplete)
    assert(a.searchLimit === 200000)
    assert(a.stopAfter === "dist")
    assert(a.overlapAmount === 0, "keep-complete=true defaults overlap to 0")
    assert(a.inputs === Seq("in.parquet"))
  }

  test("keep-complete=false defaults overlap to 2000 (Main.java:432-449)") {
    val a = SplitterArgs.parse(Seq("--keep-complete=false", "x")).toOption.get
    assert(a.overlapAmount === 2000)
    val b = SplitterArgs.parse(
      Seq("--keep-complete=false", "--overlap=500", "x")).toOption.get
    assert(b.overlapAmount === 500)
    // the tile index carries the resolved overlap as is: the default
    // applies once, so an explicit 0 stays 0 with keep-complete off
    val areas = Seq(graft.output.AreaDef(1, graft.geo.TileRect(0, 0, 4096, 4096)))
    def indexed(args: String*): Int = graft.pipeline.SplitPipeline.buildIndex(
      areas, SplitterArgs.parse(args :+ "x").toOption.get.toConfig).overlap
    assert(indexed() === 0)
    assert(indexed("--keep-complete=false") === 2000)
    assert(indexed("--keep-complete=false", "--overlap=500") === 500)
    assert(indexed("--keep-complete=false", "--overlap=0") === 0)
  }

  test("validation rejects what the reference rejects") {
    assert(SplitterArgs.parse(Seq("--stop-after=nonsense")).swap.toOption.get
      .contains("--stop-after"))
    assert(SplitterArgs.parse(Seq("--search-limit=999")).swap.toOption.get
      .contains("--search-limit"))
    assert(SplitterArgs.parse(Seq("--resolution=25")).swap.toOption.get
      .contains("--resolution"))
    assert(SplitterArgs.parse(Seq("--overlap=-5")).swap.toOption.get
      .contains("--overlap"))
    assert(SplitterArgs.parse(Seq("--overlap=abc")).swap.toOption.get
      .contains("--overlap"), "non-numeric overlap must be a clean Left")
    assert(SplitterArgs.parse(Seq("--handle-element-version=maybe")).swap
      .toOption.get.contains("--handle-element-version"))
    assert(SplitterArgs.parse(Seq("--no-such-thing=1")).swap.toOption.get
      .contains("Unknown option"))
    assert(SplitterArgs.parse(Seq("--max-nodes=abc")).isLeft)
  }

  test("accepted-and-ignored legacy options parse cleanly and are inert") {
    val a = SplitterArgs.parse(Seq("--cache=x", "--mixed",
      "--status-freq=0", "--max-threads=4", "--ignore-osm-bounds", "in"))
      .toOption.get
    assert(a.inputs === Seq("in"))
    // explicitly inert (like the reference's own deprecated flags):
    // none of them may perturb the engine configuration
    val default = SplitterArgs.parse(Seq("in")).toOption.get
    assert(a.toConfig === default.toConfig)
    assert(a === default, "legacy options must not set any field")
  }

  test("--max-areas parses, validates 1-9999, defaults to 2048") {
    assert(SplitterArgs.parse(Seq("in")).toOption.get.maxAreas === 2048)
    assert(SplitterArgs.parse(Seq("--max-areas=512", "in"))
      .toOption.get.maxAreas === 512)
    assert(SplitterArgs.parse(Seq("--max-areas=0", "in")).swap.toOption.get
      .contains("--max-areas"))
    assert(SplitterArgs.parse(Seq("--max-areas=10000", "in")).swap.toOption.get
      .contains("--max-areas"))
  }

  test("--max-areas pass count never changes the dist output " +
    "(reference SolverAndProblemGeneratorTest invariance)") {
    def distWith(extra: Seq[String]): org.apache.spark.sql.DataFrame = {
      val out = java.nio.file.Files.createTempDirectory("graft_maxareas").toString
      val a = SplitterArgs.parse(Seq(
        s"--output-dir=$out", "--stop-after=dist", "--max-nodes=200",
        "/root/testdata/sf0.001/documents.parquet") ++ extra).toOption.get
      assert(Main.run(spark, a) === "dist")
      spark.read.parquet(s"$out/tiles")
    }
    val onePass = distWith(Nil)
    val chunked = distWith(Seq("--max-areas=2")) // 200-node solve -> >2 tiles
    assert(onePass.select("map_id").distinct().count() > 2,
      "fixture must actually need multiple passes at max-areas=2")
    assert(onePass.exceptAll(chunked).isEmpty &&
      chunked.exceptAll(onePass).isEmpty,
      "chunked multi-pass write must equal the single-pass write")

    // OSM input through the o5m sink: the same tile bytes and the same
    // rows_written total, whatever the pass count
    val dir = java.nio.file.Files.createTempDirectory("graft_maxareas_osm").toString
    OsmFixture.writeFile(s"$dir/in.o5m", OsmFixture.corpus(2000))
    def osmWith(extra: Seq[String], out: String): (Map[String, Seq[Byte]], String) = {
      val a = SplitterArgs.parse(Seq(s"--output-dir=$dir/$out", "--max-nodes=300",
        "--output=o5m", s"$dir/in.o5m") ++ extra).toOption.get
      assert(Main.run(spark, a) === "dist")
      val tiles = new java.io.File(s"$dir/$out/tiles").listFiles().toSeq
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      val metrics = scala.io.Source.fromFile(s"$dir/$out/metrics.jsonl")
      val written = try metrics.getLines().filter(_.contains("rows_written")).mkString
        finally metrics.close()
      (tiles, written)
    }
    val (osmOne, writtenOne) = osmWith(Nil, "one")
    val (osmChunked, writtenChunked) = osmWith(Seq("--max-areas=2"), "chunked")
    assert(osmOne.size > 2, "fixture must actually need multiple passes at max-areas=2")
    assert(osmChunked.keySet === osmOne.keySet)
    osmOne.foreach { case (name, bytes) =>
      assert(osmChunked(name) === bytes, s"tile $name differs between pass counts")
    }
    assert(writtenChunked === writtenOne && writtenOne.nonEmpty)
  }

  test("--problem-report redirects the problem list artifact") {
    val out = java.nio.file.Files.createTempDirectory("graft_preport").toString
    val a = SplitterArgs.parse(Seq(
      s"--output-dir=$out", "--stop-after=gen-problem-list",
      "--max-nodes=200", s"--problem-report=$out/custom_report.txt",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    assert(Main.run(spark, a) === "gen-problem-list")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/custom_report.txt")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/problem.list")),
      "--problem-report must redirect, not duplicate")
    // the reference ignores --problem-report under keep-complete=false
    // (Main.java:451-453): the default artifact is written instead
    val out2 = java.nio.file.Files.createTempDirectory("graft_preport2").toString
    val b = SplitterArgs.parse(Seq(
      s"--output-dir=$out2", "--stop-after=gen-problem-list",
      "--max-nodes=200", "--keep-complete=false",
      s"--problem-report=$out2/custom_report.txt",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    assert(Main.run(spark, b) === "gen-problem-list")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out2/custom_report.txt")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out2/problem.list")))
  }

  test("stop-after gates the phase chain and writes phase artifacts") {
    val out = java.nio.file.Files.createTempDirectory("graft_main").toString
    def argsFor(stop: String) = SplitterArgs.parse(Seq(
      s"--output-dir=$out", s"--stop-after=$stop", "--max-nodes=200",
      "--resolution=13", "--write-kml=areas.kml",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get

    assert(Main.run(spark, argsFor("split")) === "split")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/areas.list")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/template.args")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/areas.poly")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/areas.kml")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/problem.list")))

    assert(Main.run(spark, argsFor("gen-problem-list")) === "gen-problem-list")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/problem.list")))

    assert(Main.run(spark, argsFor("dist")) === "dist")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/tiles")))
    val tiles = spark.read.parquet(s"$out/tiles")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // assignment totality: fan-out >= input (border duplication)
    assert(tiles.count() >= docs.count())
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/link_tiles.parquet")))

    // OSM input: each gate stops before the next phase's artifact
    val osmDir = java.nio.file.Files.createTempDirectory("graft_main_osm").toString
    OsmFixture.writeFile(s"$osmDir/in.o5m", OsmFixture.corpus(1000))
    val phases = Seq("split" -> "areas.list", "gen-problem-list" -> "problem.list",
      "handle-problem-list" -> "link_tiles.parquet", "dist" -> "tiles")
    for (((stop, _), i) <- phases.zipWithIndex) {
      val osmOut = s"$osmDir/$stop"
      val a = SplitterArgs.parse(Seq(s"--output-dir=$osmOut", s"--stop-after=$stop",
        "--max-nodes=300", "--output=o5m", s"$osmDir/in.o5m")).toOption.get
      assert(Main.run(spark, a) === stop)
      for (((_, artifact), j) <- phases.zipWithIndex)
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$osmOut/$artifact")) === (j <= i),
          s"--stop-after=$stop: $artifact")
    }
  }

  /** The message of the IllegalArgumentException `Main.run` raises. */
  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](
      Main.run(spark, SplitterArgs.parse(args).toOption.get)).getMessage

  test("OSM input rejects --problem-file instead of ignoring it") {
    assert(rejected("--problem-file=given.list", "in.o5m").contains("--problem-file"))
  }

  test("OSM input rejects --boundary-tags instead of ignoring it") {
    assert(rejected("--boundary-tags=census", "in.pbf").contains("--boundary-tags"))
  }

  test("OSM input rejects --wanted-admin-level instead of ignoring it") {
    assert(rejected("--wanted-admin-level=8", "in.osm.gz").contains("--wanted-admin-level"))
  }

  test("mixed OSM and parquet inputs are rejected, naming the inputs") {
    val msg = rejected("in.o5m", "docs.parquet")
    assert(msg.contains("Mixed OSM and parquet inputs") && msg.contains("in.o5m") &&
      msg.contains("docs.parquet"), msg)
  }

  test("--polygon-file constrains the solve to the polygon") {
    val out = java.nio.file.Files.createTempDirectory("graft_poly").toString
    // polygon = west half of the synthesis window
    val west = graft.geo.TileRect(
      graft.geo.CoordSynthesis.LatMin, graft.geo.CoordSynthesis.LonMin,
      graft.geo.CoordSynthesis.LatMax, 0)
    graft.output.PolyWriters.writePoly(s"$out/west.poly", "west", Seq(west))
    val a = SplitterArgs.parse(Seq(
      s"--output-dir=$out", "--stop-after=split", "--max-nodes=200",
      s"--polygon-file=$out/west.poly",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    assert(Main.run(spark, a) === "split")
    val areas = graft.output.AreaWriters.readAreasList(s"$out/areas.list")
    assert(areas.nonEmpty)
    // every emitted tile must intersect the polygon: nothing east of 0
    assert(areas.forall(_.rect.minLon < 0),
      s"tile entirely outside the polygon: ${areas.filter(_.rect.minLon >= 0)}")
  }

  test("--polygon-desc-file splits per named polygon, names flow to template.args") {
    val out = java.nio.file.Files.createTempDirectory("graft_pdesc").toString
    val descDir = java.nio.file.Files.createTempDirectory("graft_pdescdir").toString
    val lat0 = graft.geo.CoordSynthesis.LatMin
    val lat1 = graft.geo.CoordSynthesis.LatMax
    val lon0 = graft.geo.CoordSynthesis.LonMin
    val lon1 = graft.geo.CoordSynthesis.LonMax
    // two overlapping named regions: west 60% and east 60%
    graft.output.PolyWriters.writePoly(s"$descDir/west.poly", "westland",
      Seq(graft.geo.TileRect(lat0, lon0, lat1, lon0 + (lon1 - lon0) * 3 / 5)))
    graft.output.PolyWriters.writePoly(s"$descDir/east.poly", "eastland",
      Seq(graft.geo.TileRect(lat0, lon1 - (lon1 - lon0) * 3 / 5, lat1, lon1)))
    val a = SplitterArgs.parse(Seq(
      s"--output-dir=$out", "--stop-after=split", "--max-nodes=200",
      s"--polygon-desc-file=$descDir",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    assert(Main.run(spark, a) === "split")
    val areas = graft.output.AreaWriters.readAreasList(s"$out/areas.list")
    assert(areas.nonEmpty)
    val tmpl = scala.io.Source.fromFile(s"$out/template.args").mkString
    assert(tmpl.contains("westland") && tmpl.contains("eastland"),
      "polygon names must become tile descriptions")
    assert(tmpl.contains("eastland and westland") ||
      tmpl.contains("westland and eastland"),
      "the shared middle region must be split as its own named part")
  }

  test("--precomp-sea merges the sea background into the density grid") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_sea").toString
    val seaDir = java.nio.file.Files.createTempDirectory("graft_seadir").toString
    val r = graft.sources.PrecompSea.Raster
    // a coastline band of 4 mixed raster tiles starting at (0,0) —
    // inside the data bbox so the bounds filter keeps the points,
    // spread wide enough that no grid cell exceeds max-nodes (an
    // unsplittable single cell fails the solve) and the BSP can carve
    // the band cleanly; 3000 pts * seaFactor 2 vs max-nodes 200
    // forces many extra splits where the corpus alone has none
    val pts = (0 until 3000).map(i => ((i * 131) % r, (i * 37) % (4 * r)))
    val entries = (0 until 4).map { t =>
      val name = s"sea_0_${t * r}.parquet"
      pts.filter { case (_, lo) => lo / r == t }
        .toDF("lat_mu", "lon_mu")
        .coalesce(1).write.parquet(s"$seaDir/$name")
      s"0_${t * r};$name"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$seaDir/index.txt"),
      entries.mkString("", "\n", "\n"))
    def runWith(extra: Seq[String], dir: String): Seq[graft.output.AreaDef] = {
      val a = SplitterArgs.parse(Seq(
        s"--output-dir=$dir", "--stop-after=split", "--max-nodes=200") ++
        extra :+ "/root/testdata/sf0.001/documents.parquet").toOption.get
      Main.run(spark, a)
      graft.output.AreaWriters.readAreasList(s"$dir/areas.list")
    }
    val plain = runWith(Nil, out + "/plain")
    val withSea = runWith(Seq(s"--precomp-sea=$seaDir"), out + "/sea")
    assert(withSea.size > plain.size,
      s"sea background (5000 pts * 2 vs max-nodes 200) must force extra " +
        s"splits: ${plain.size} -> ${withSea.size}")
  }

  test("--problem-file replaces gen-problem-list and scopes keep-complete") {
    val out = java.nio.file.Files.createTempDirectory("graft_probf").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    graft.output.AreaWriters.writeProblemList(s"$out/given.list",
      Seq("7", "11"), Seq("13"))
    val a = SplitterArgs.parse(Seq(
      s"--output-dir=$out", "--stop-after=handle-problem-list",
      "--max-nodes=200", s"--problem-file=$out/given.list",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    assert(Main.run(spark, a) === "handle-problem-list")
    // the written problem list echoes the file, rel lines as rel lines,
    // not a computation
    val (ways, rels) = graft.output.AreaWriters.readProblemList(s"$out/problem.list")
    assert(ways === Seq("11", "7"))
    assert(rels === Seq("13"))
    // keep-complete handled exactly the given links
    val linkIds = spark.read.parquet(s"$out/link_tiles.parquet")
      .select("link_id").distinct().collect().map(_.getLong(0)).toSet
    assert(linkIds.subsetOf(Set(7L, 11L, 13L)) && linkIds.nonEmpty,
      s"link_tiles must cover only the problem-file links, got $linkIds")
  }

  test("--boundary-tags / --wanted-admin-level filter gen-problem-list") {
    val out = java.nio.file.Files.createTempDirectory("graft_tags").toString
    def problemsWith(extra: Seq[String], dir: String): Set[Long] = {
      val a = SplitterArgs.parse(Seq(
        s"--output-dir=$dir", "--stop-after=gen-problem-list",
        "--max-nodes=200") ++ extra :+
        "/root/testdata/sf0.001/documents.parquet").toOption.get
      Main.run(spark, a)
      graft.output.AreaWriters.readProblemList(s"$dir/problem.list")
        ._1.map(_.toLong).toSet
    }
    val unfiltered = problemsWith(Nil, out + "/all")
    val filtered = problemsWith(
      Seq("--boundary-tags=census", "--wanted-admin-level=8"), out + "/tagged")
    assert(filtered.subsetOf(unfiltered))
    assert(filtered.size < unfiltered.size,
      s"the tag filter must drop some links: ${unfiltered.size} -> ${filtered.size}")
    // every surviving link satisfies the predicate (scalar re-check)
    filtered.foreach { l =>
      val relType = Seq("multipolygon", "boundary", "restriction",
        "associatedStreet", "route")((l % 5).toInt)
      val boundary = if (l % 4 == 0) null
        else Seq("administrative", "postal_code", "census")((l % 4).toInt - 1)
      val admin = if (l % 3 == 0) -1L else 2 + l % 10
      val direct = Seq("restriction", "associatedStreet").contains(relType)
      val isMp = Seq("multipolygon", "boundary").contains(relType)
      val wanted = boundary == null || boundary == "census"
      val adminOk = boundary != null && admin >= 8 && admin <= 11
      assert(direct || (isMp && wanted) || (isMp && adminOk),
        s"link $l ($relType, $boundary, $admin) fails the predicate")
    }
  }

  test("P5 relevance Column equals an independent scalar model across configs") {
    import spark.implicits._
    import graft.assign.RelevanceFilter
    // scalar re-derivation of ProblemListProcessor.processRelation
    // semantics over the synthetic tag model
    def scalar(l: Long, tags: String, wanted: Int): Boolean = {
      val relType = Seq("multipolygon", "boundary", "restriction",
        "associatedStreet", "route")((l % 5).toInt)
      val boundary = if (l % 4 == 0) null
        else Seq("administrative", "postal_code", "census")((l % 4).toInt - 1)
      val admin: java.lang.Long = if (l % 3 == 0) null else 2 + l % 10
      val direct = Set("restriction", "through_route", "associatedStreet",
        "street")(relType) || relType.startsWith("restriction:")
      val isMp = Set("multipolygon", "boundary")(relType)
      val hasB = boundary != null
      val isWanted =
        if (tags == RelevanceFilter.UseExcludeList)
          !hasB || !Set("administrative", "postal_code", "political")(boundary)
        else hasB && tags.split(",").contains(boundary)
      val lo = math.max(2, wanted)
      val adminOk = admin != null && admin >= lo && admin <= 11
      direct || (isMp && (isWanted || !hasB)) || (isMp && hasB && adminOk)
    }
    val ids = (0L until 1000L).toDF("link_id")
    for ((tags, wanted) <- Seq((RelevanceFilter.UseExcludeList, 5),
      ("census", 8), ("administrative,political", 2), ("postal_code", 11))) {
      val fromColumn = ids.where(RelevanceFilter.relevant(
        RelevanceFilter.relTypeCol(org.apache.spark.sql.functions.col("link_id")),
        RelevanceFilter.boundaryCol(org.apache.spark.sql.functions.col("link_id")),
        RelevanceFilter.adminLevelCol(org.apache.spark.sql.functions.col("link_id")),
        tags, wanted)).collect().map(_.getLong(0)).toSet
      val fromScalar = (0L until 1000L).filter(scalar(_, tags, wanted)).toSet
      assert(fromColumn === fromScalar,
        s"($tags, $wanted): col-only ${fromColumn.diff(fromScalar).take(5)}, " +
          s"scalar-only ${fromScalar.diff(fromColumn).take(5)}")
    }
  }

  test("split-file reuse skips the solve and reuses the given areas") {
    val out = java.nio.file.Files.createTempDirectory("graft_main2").toString
    val first = SplitterArgs.parse(Seq(
      s"--output-dir=$out", "--stop-after=split", "--max-nodes=200",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    Main.run(spark, first)
    val reused = java.nio.file.Files.createTempDirectory("graft_main3").toString
    val second = SplitterArgs.parse(Seq(
      s"--output-dir=$reused", s"--split-file=$out/areas.list",
      "--stop-after=split",
      "/root/testdata/sf0.001/documents.parquet")).toOption.get
    Main.run(spark, second)
    val a1 = graft.output.AreaWriters.readAreasList(s"$out/areas.list")
    val a2 = graft.output.AreaWriters.readAreasList(s"$reused/areas.list")
    assert(a1 === a2)

    // a split file keeps the map ids it was written with: through dist,
    // every tile and link_tiles row carries its area's own id, whatever
    // --mapid says
    def ran(args: String*): String = Main.run(spark, SplitterArgs.parse(args).toOption.get)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("map_id").distinct().collect().map(_.getAs[Number](0).longValue).toSet
    val own = java.nio.file.Files.createTempDirectory("graft_main4").toString
    val docs = first.inputs.head
    ran(s"--output-dir=$own", "--stop-after=split", "--max-nodes=200", "--mapid=70000001", docs)
    val ownIds = graft.output.AreaWriters.readAreasList(s"$own/areas.list").map(_.mapId.toLong)
    assert(ownIds.head === 70000001L && ownIds.size > 1)
    val dist = java.nio.file.Files.createTempDirectory("graft_main5").toString
    assert(ran(s"--output-dir=$dist", s"--split-file=$own/areas.list", docs) === "dist")
    assert(ids(spark.read.parquet(s"$dist/tiles")) === ownIds.toSet)
    val linkIds = ids(spark.read.parquet(s"$dist/link_tiles.parquet"))
    assert(linkIds.nonEmpty && linkIds.subsetOf(ownIds.toSet), s"link_tiles map ids $linkIds")

    // OSM tiles: the same files, bytes and rows_written as a run whose
    // --mapid matches the split file
    val osm = java.nio.file.Files.createTempDirectory("graft_main_osm").toString
    OsmFixture.writeFile(s"$osm/in.o5m", OsmFixture.corpus(1000))
    def osmRun(out: String, extra: String*): (Map[String, Seq[Byte]], String) = {
      ran(Seq(s"--output-dir=$osm/$out", "--max-nodes=300", "--output=o5m") ++ extra :+
        s"$osm/in.o5m": _*)
      val tiles = Option(new java.io.File(s"$osm/$out/tiles").listFiles()).toSeq.flatten
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      val metrics = scala.io.Source.fromFile(s"$osm/$out/metrics.jsonl")
      val written = try metrics.getLines().filter(_.contains("rows_written")).mkString
        finally metrics.close()
      (tiles, written)
    }
    osmRun("solve", "--stop-after=split", "--mapid=70000001")
    val osmIds = graft.output.AreaWriters.readAreasList(s"$osm/solve/areas.list").map(_.mapId)
    val (matching, writtenMatching) =
      osmRun("matching", s"--split-file=$osm/solve/areas.list", "--mapid=70000001")
    val (default, writtenDefault) = osmRun("default", s"--split-file=$osm/solve/areas.list")
    assert(default.keySet === osmIds.map(id => f"$id%08d.o5m").toSet)
    default.foreach { case (name, bytes) =>
      assert(matching(name) === bytes, s"tile $name differs from the matching-id run")
    }
    assert(writtenDefault === writtenMatching && writtenMatching.nonEmpty)
  }
}
