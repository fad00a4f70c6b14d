package graft.app

import graft.assign.{LinkMembership, ProblemJoins, RelevanceFilter, TileAssigner}
import graft.model.LinkModel
import graft.output.{AreaDef, AreaWriters, MetricsLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * What differs between corpus ([[CorpusInput]]) and OSM ([[OsmInput]])
 * inputs of the phase driver [[Main.run]]. One instance serves one run;
 * hooks run in phase order and may read what earlier hooks computed.
 */
private[app] trait PhaseInput {
  /** doc_id, lat_mu, lon_mu (+ payload): density input and probed points. */
  def points: DataFrame
  /** The probed points (+ tile_ids) as the later phases read them. */
  def assignment(probed: DataFrame): DataFrame = probed
  /** Writes the problem list, returns its id count; times `problem_list`. */
  def writeProblemList(assignment: DataFrame, path: String, m: MetricsLog): Long
  /** The problem links' (…, map_id) rows for link_tiles.parquet. */
  def problemTiles(areas: Seq[AreaDef]): DataFrame
  /** The (…, map_id) rows the tiles are written from, and their phase
    * name. Tile ids map to `areas`' own map ids. */
  def distRows(assignment: DataFrame, areas: Seq[AreaDef], m: MetricsLog): DataFrame
  def distPhase: String
  /** Writes one pass of tiles; the rows written when the sink counts them. */
  def writeTiles(rows: DataFrame, pass: TilePass): Option[Long]
}

/** One `--max-areas` pass: a chunk of at most maxAreas tiles. Chunks
  * partition the map_id space, so later passes append disjoint ones. */
private[app] final case class TilePass(areas: Seq[AreaDef], index: Int, passes: Int) {
  def rowsOf(rows: DataFrame): DataFrame =
    rows.where(col("map_id").isin(areas.map(a => Int.box(a.mapId)): _*))
  /** [[rowsOf]], but a single pass takes `rows` unfiltered. */
  def chunkOf(rows: DataFrame): DataFrame = if (passes == 1) rows else rowsOf(rows)
  def writeParquet(rows: DataFrame, a: SplitterArgs): Unit =
    TileAssigner.writePartitioned(rows, s"${a.outputDir}/tiles", a.handleElementVersion,
      mode = if (index == 0) "overwrite" else "append")
}

/** Parquet corpus input: synthesized coordinates, links derived from
  * doc ids ([[LinkModel]], shared with the catalog), parquet tiles. */
private[app] final class CorpusInput(spark: SparkSession, a: SplitterArgs)
    extends PhaseInput {

  val points: DataFrame = {
    val raw = a.inputs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    // normalize: the interleaved corpus carries string doc ids
    // ("d%012d"); flat test tables carry numeric ones
    val docs =
      if (raw.schema("doc_id").dataType == org.apache.spark.sql.types.StringType)
        raw.withColumn("doc_id",
          graft.model.InterleavedCorpus.idOfDocId(col("doc_id")))
      else raw
    docs
      .withColumn("lat_mu", graft.geo.CoordSynthesis.latCol(col("doc_id")))
      .withColumn("lon_mu", graft.geo.CoordSynthesis.lonCol(col("doc_id")))
  }

  private var problems: DataFrame = _ // link_id, set by writeProblemList

  // --problem-file replaces the computation entirely (reference
  // Main.java:198-213 -> ProblemLists.readProblemIds:129-179);
  // otherwise links are tag-filtered by the P5 relevance predicate
  // when --boundary-tags / --wanted-admin-level are given
  // (ProblemListProcessor.java:201-243) and border-crossers are
  // detected via the salted membership aggregation. Problem links stay
  // a Dataset end-to-end: the computed list streams out one partition
  // at a time and the handle phase semi-joins against the same
  // checkpointed frame. Only --problem-file input is inherently a
  // (bounded) driver artifact.
  def writeProblemList(assignment: DataFrame, path: String, m: MetricsLog): Long =
    m.step("problem_list") {
      a.problemFile match {
        case Some(pf) =>
          import spark.implicits._
          val (ways, rels) = AreaWriters.readProblemList(pf)
          // way and rel lines round-trip as they came; the corpus has
          // one link namespace, so both kinds join the same frame
          val allIds = ways ++ rels
          // non-numeric ids can name links no corpus doc carries; they
          // round-trip through problem.list but join nothing
          AreaWriters.writeProblemList(path, ways, rels)
          problems = allIds.flatMap(p => scala.util.Try(p.toLong).toOption)
            .toDF("link_id").localCheckpoint(true)
          // the count is what problem.list holds, non-numeric ids too
          allIds.size.toLong
        case None =>
          val allLinks = points.select(LinkModel.linkIdCol().as("link_id")).distinct()
            .select(col("link_id"), LinkModel.memberIdsCol(col("link_id")).as("member_ids"))
          val considered =
            if (a.boundaryTags.isEmpty && a.wantedAdminLevel.isEmpty) allLinks
            else allLinks.where(RelevanceFilter.relevant(
              RelevanceFilter.relTypeCol(col("link_id")),
              RelevanceFilter.boundaryCol(col("link_id")),
              RelevanceFilter.adminLevelCol(col("link_id")),
              a.boundaryTags.getOrElse(RelevanceFilter.UseExcludeList),
              a.wantedAdminLevel.getOrElse(RelevanceFilter.DefaultWantedAdminLevel)))
          problems = LinkMembership.problemLinks(
            LinkMembership.linkTiles(considered, assignment))
            .localCheckpoint(true)
          AreaWriters.writeProblemListKinds(path, problems, problems.limit(0))
      }
    }

  // only the problem links are handled — file-given or computed —
  // matching the reference's handle-problem-list scope
  // (MultiTileProcessor consumes exactly the problem list). The
  // semi-joins are plain equi-joins on the checkpointed problem
  // frame: Spark broadcasts it while it is small and falls back to
  // a shuffled semi-join at planet-scale problem counts.
  def problemTiles(areas: Seq[AreaDef]): DataFrame = {
    val members = points
      .withColumn("link_id", LinkModel.linkIdCol())
      .join(problems, Seq("link_id"), "left_semi")
    val p1 = points.select(col("doc_id").as("id1"),
      col("lon_mu").as("x1"), col("lat_mu").as("y1"))
    val p2 = points.select(col("doc_id").as("id2"),
      col("lon_mu").as("x2"), col("lat_mu").as("y2"))
    val segments = p1.where(LinkModel.segmentStartCol("id1"))
      .join(p2, col("id2") === col("id1") + 1)
      .select(LinkModel.linkIdCol("id1").as("link_id"),
        col("x1"), col("y1"), col("x2"), col("y2"))
      .join(problems, Seq("link_id"), "left_semi")
    ProblemJoins.keepCompleteTiles(members, segments,
      areas.map(_.rect), areas.map(_.mapId.toLong))
  }

  def distRows(assignment: DataFrame, areas: Seq[AreaDef], m: MetricsLog): DataFrame =
    TileAssigner.explodeByTile(assignment, areas.map(_.mapId.toLong))

  val distPhase = "dist"

  def writeTiles(rows: DataFrame, pass: TilePass): Option[Long] = {
    pass.writeParquet(pass.chunkOf(rows), a)
    None
  }
}
