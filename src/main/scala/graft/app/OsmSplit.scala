package graft.app

import graft.assign.{LinkMembership, ProblemJoins, TileAssigner}
import graft.output.{AreaDef, AreaWriters, MetricsLog, OsmTileSink}
import graft.sources.OsmFileSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OSM-file helpers shared by the phase driver, the source tests and
  * the benchmarks. */
object OsmSplit {

  def isOsmInput(p: String): Boolean =
    scala.util.Try(OsmFileSource.formatOf(p)).isSuccess

  /**
   * 1e-7 coordinate -> map units, bit-identical to the reference parse
   * path: degrees = (100*v7) * 1e-9 (O5mMapParser.java:51,246-247),
   * then Utils.toMapUnit's half-unit-corrected truncation
   * (Utils.java:71-77). Pure column arithmetic (same IEEE ops), so the
   * conversion stays inside codegen.
   */
  def mapUnitCol(v7: Column): Column = {
    val deg = (v7.cast("long") * lit(100L)).cast("double") * lit(1d / 1000000000)
    val delta = lit(360.0 / (1 << 24) / 2)
    (((deg + when(deg > lit(0d), delta).otherwise(-delta)) * lit((1 << 24).toDouble)) /
      lit(360.0)).cast("int")
  }

  /** The phase chain over OSM inputs: [[Main.run]], which runs them
    * through [[OsmInput]]. */
  def run(spark: SparkSession, a: SplitterArgs): String = Main.run(spark, a)
}

/**
 * OSM-file input of the phase driver (`.osm[.gz]` / `.o5m` / `.pbf`
 * via the DSv2 source): nodes are the points; way/relation tile
 * membership runs before the problem list, and the dist phase writes
 * per-tile OSM files — the reference's end-to-end flow (Main.java
 * split()/genProblemLists/writeAreas -> dist) as DataFrame plans.
 *
 * Assignment semantics (reference MultiTileProcessor / SplitProcessor):
 *  - a node goes to every tile whose (overlap-extended) rect contains
 *    it;
 *  - a way goes to every tile holding at least one of its nodes;
 *  - a relation goes to every tile holding any member, where
 *    sub-relation membership propagates transitively (J8 closure,
 *    reference MultiTileProcessor.MTRelation loop resolution);
 *  - with --keep-complete, ways and relations are kept COMPLETE: every
 *    node of a way (and every node/way member of a relation) is copied
 *    into each tile the parent was assigned to. Completing ALL
 *    crossing links equals the reference's problem-list handling: a
 *    link contained in one tile contributes only members already in
 *    that tile, so the extra copies are exactly the problem links'.
 *
 * Every step is a bucketed equi-join or broadcast-index probe — no
 * driver-side entity data, so the same plan runs at planet scale.
 */
private[app] final class OsmInput(spark: SparkSession, a: SplitterArgs)
    extends PhaseInput {

  // these options only shape the corpus's problem list
  for ((opt, v) <- Seq("--problem-file" -> a.problemFile, "--boundary-tags" -> a.boundaryTags,
      "--wanted-admin-level" -> a.wantedAdminLevel) if v.isDefined)
    throw new IllegalArgumentException(
      s"Parameter $opt is not supported for OSM inputs (parquet corpus inputs only)")

  private val ents = OsmFileSource.read(spark, a.inputs: _*)

  // kind filter + column prune push into the scan (the reference's
  // skipWays/skipRels/skipTags flags for the density pass)
  val points: DataFrame = ents.where(col("kind") === lit("node"))
    .select(col("id").as("doc_id"),
      OsmSplit.mapUnitCol(col("lat7")).as("lat_mu"),
      OsmSplit.mapUnitCol(col("lon7")).as("lon_mu"))

  private val ways = ents.where(col("kind") === lit("way"))
    .select(col("id").as("link_id"), col("refs").as("member_ids"))

  // relation member edges; sub-relation membership via the J8 closure
  private val relMembers = ents.where(col("kind") === lit("relation"))
    .select(col("id").as("rel_id"), explode(col("members")).as("m"))
    .select(col("rel_id"), col("m.mtype").as("mtype"), col("m.ref").as("ref"))

  // set by writeProblemList: (link_id, tile_ids, is_problem),
  // (rel_id, mtype, ref) of direct and sub-relation members, (rel_id, tile_ids)
  private var wayTiles, resolvedMembers, relTiles: DataFrame = _

  private def problemWays = wayTiles.where(col("is_problem"))
  private def problemRels = relTiles.where(size(col("tile_ids")) > 1)

  // NOTE (measured, do not "optimize"): persisting these intermediates
  // via Dataset.persist to reuse a pre-join hash partitioning
  // (InMemoryRelation keeps outputPartitioning; localCheckpoint's
  // ExistingRDD does not) was tried and is 1.5-2x SLOWER end-to-end at
  // 4.4M ents: the columnar cache encode/decode on every consumer
  // outweighs the saved exchanges of these narrow rows. localCheckpoint
  // stores raw UnsafeRows — cheap to write and re-scan.
  override def assignment(probed: DataFrame): DataFrame =
    probed.localCheckpoint(true) // one scan feeds node, way AND rel joins

  def writeProblemList(assignment: DataFrame, path: String, m: MetricsLog): Long = {
    wayTiles = m.step("way_membership") {
      LinkMembership.linkTiles(ways, assignment).localCheckpoint(true)
    }
    val relEdges = relMembers.where(col("mtype") === lit("relation"))
      .select(col("rel_id").as("parent_id"), col("ref").as("child_id"))
    // (rel_id, reachable rel) including itself, so direct members and
    // sub-relation members resolve through one frame. resolvedMembers
    // feeds FOUR consumers (rel node/way tiles, wayAll, nodeExtra) —
    // checkpointed so the closure join runs once, which also makes the
    // rel_closure timing cover the whole closure resolution
    resolvedMembers = m.step("rel_closure") {
      val reach = relMembers.select(col("rel_id")).distinct()
        .select(col("rel_id").as("root_id"), col("rel_id").as("leaf_id"))
        .unionByName(ProblemJoins.membershipClosure(relEdges))
      reach
        .join(relMembers.withColumnRenamed("rel_id", "leaf_id"), "leaf_id")
        .select(col("root_id").as("rel_id"), col("mtype"), col("ref"))
        .localCheckpoint(true)
    }
    val relNodeTiles = resolvedMembers.where(col("mtype") === lit("node"))
      .join(assignment.select(col("doc_id").as("ref"), col("tile_ids")), "ref")
    val relWayTiles = resolvedMembers.where(col("mtype") === lit("way"))
      .join(wayTiles.select(col("link_id").as("ref"), col("tile_ids")), "ref")
    relTiles = m.step("rel_membership") {
      relNodeTiles.unionByName(relWayTiles)
        .select(col("rel_id"), explode(col("tile_ids")).as("tid"))
        .groupBy("rel_id")
        .agg(sort_array(collect_set(col("tid"))).as("tile_ids"))
        .localCheckpoint(true)
    }
    m.step("problem_list") {
      AreaWriters.writeProblemListKinds(path, problemWays.select(col("link_id")),
        problemRels.select(col("rel_id")))
    }
  }

  // artifact parity with the corpus input: the problem links' tile
  // pairs (kind column because way and relation ids are separate OSM
  // namespaces)
  def problemTiles(areas: Seq[AreaDef]): DataFrame = {
    val wayPairs = problemWays
      .select(lit("way").as("kind"), col("link_id"),
        explode(col("tile_ids")).as("tid"))
    val relPairs = problemRels
      .select(lit("relation").as("kind"), col("rel_id").as("link_id"),
        explode(col("tile_ids")).as("tid"))
    wayPairs.unionByName(relPairs)
      .select(col("kind"), col("link_id"),
        TileAssigner.mapIdAt(areas.map(_.mapId.toLong), col("tid")).as("map_id"))
  }

  // per-kind (kind, id, map_id) assignments
  def distRows(assignment: DataFrame, areas: Seq[AreaDef], m: MetricsLog): DataFrame = {
    val nodeBase = assignment
      .select(col("doc_id").as("id"), explode(col("tile_ids")).as("tid"))
    val wayAssign = wayTiles
      .select(col("link_id").as("id"), explode(col("tile_ids")).as("tid"))
    val relAssign = relTiles
      .select(col("rel_id").as("id"), explode(col("tile_ids")).as("tid"))
    // keep-complete: way members of relations join the relation's
    // tiles FIRST, then every node of a way lands in each tile of the
    // way's FINAL tile set (so a way pulled into a relation tile
    // arrives with its nodes — the reference's transitive
    // mark-needed), plus direct node members of relations
    val wayAll =
      if (!a.keepComplete) wayAssign
      else wayAssign.unionByName(
        resolvedMembers.where(col("mtype") === lit("way"))
          .select(col("rel_id"), col("ref").as("id"))
          .join(relTiles, "rel_id")
          .select(col("id"), explode(col("tile_ids")).as("tid"))).distinct()
    val nodeExtra =
      if (!a.keepComplete) nodeBase.limit(0)
      else {
        val viaWays = ways
          .select(col("link_id"), explode(col("member_ids")).as("id"))
          .join(wayAll.withColumnRenamed("id", "link_id")
            .withColumnRenamed("tid", "wtid"), "link_id")
          .select(col("id"), col("wtid").as("tid"))
        val viaRels = resolvedMembers.where(col("mtype") === lit("node"))
          .select(col("rel_id"), col("ref").as("id"))
          .join(relTiles, "rel_id")
          .select(col("id"), explode(col("tile_ids")).as("tid"))
        viaWays.unionByName(viaRels)
      }

    // ONLY the narrow (kind, id, map_id) assignment is materialized —
    // ~20 bytes/row against the full payload (tags/refs/members), so
    // the wide persist that used to dominate the pipeline disappears.
    // The wide payload streams straight from the source scan through
    // the membership join into the sink's map_id shuffle; each
    // --max-areas pass re-reads the (cheap, byte-range-parallel)
    // source instead of a materialized wide intermediate.
    // (A repartition(kind, id) here — one exchange serving both the
    // distinct and the sink's assembly join — also measured slower:
    // it forfeits the distinct's map-side partial dedup. Measured, not
    // guessed; see BENCH/BASELINE.md round-6 notes.)
    val pairs = nodeBase.unionByName(nodeExtra).withColumn("kind", lit("node"))
      .unionByName(wayAll.withColumn("kind", lit("way")))
      .unionByName(relAssign.withColumn("kind", lit("relation")))
      .select(col("kind"), col("id"),
        TileAssigner.mapIdAt(areas.map(_.mapId.toLong), col("tid")).cast("int").as("map_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    m.step("assign_pairs")(pairs.count()) // materialize once, timed apart
                                          // from the first sink pass
    pairs
  }

  // per-partition counts of the ASSIGNMENT pairs (distinct from the
  // written rows: pairs whose entity is missing from a clipped input
  // never reach a tile)
  val distPhase = "dist_pairs"

  def writeTiles(pairs: DataFrame, pass: TilePass): Option[Long] = {
    def assembledOf(p: DataFrame): DataFrame = ents.join(p, Seq("kind", "id"))
    a.output match {
      case "o5m" | "xml" | "pbf" =>
        // at most maxAreas tile FILES open per pass; each pass gets ONLY
        // its chunk's areas (bounds + empty-tile backfill scope to the
        // pass, not the whole area list). Rows ACTUALLY written:
        // assignments whose entity exists in the input (dangling refs on
        // clipped extracts drop at the join)
        val tilesDir = s"${a.outputDir}/tiles"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tilesDir))
        Some(OsmTileSink.write(assembledOf(pass.rowsOf(pairs)), tilesDir, a.output,
          pass.areas, a.handleElementVersion))
      case _ =>
        pass.writeParquet(assembledOf(pass.chunkOf(pairs)), a)
        None
    }
  }
}
