package graft.assign

import graft.index.TileIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The point-in-rectangle assignment join: every document row gains the
 * list of tile ids whose (overlap-extended) rectangle contains its
 * point.
 *
 * Physically this is a broadcast spatial join executed as a map-side
 * probe of the [[TileIndex]] — no shuffle at all on the fact side,
 * which is what survives a 100 TB scan: the only shuffle in the whole
 * fan-out pipeline is the optional repartition by tile before the
 * partitioned write. (Reference: the AreaGrid probe inside
 * `SplitProcessor.writeNode:256-322`.)
 */
object TileAssigner {

  /** Add `tile_ids: array<int>`. With `nearestFallback` every point
    * gets >= 1 tile (kNN nearest-rectangle); otherwise out-of-bounds
    * points get an empty array (reference drop semantics). The probe
    * is a codegen'd Catalyst expression over the broadcast index —
    * no UDF boxing, stays inside whole-stage codegen. */
  def withTileIds(spark: SparkSession, df: DataFrame, lat: Column, lon: Column,
                  index: TileIndex, nearestFallback: Boolean = true): DataFrame = {
    val bc = spark.sparkContext.broadcast(index)
    df.withColumn("tile_ids",
      graft.functions.ProbeTilesExpr.probeTiles(
        lat.cast("int"), lon.cast("int"), bc, nearestFallback))
  }

  /** Fan out one row per (row, tile): `map_id` = startMapId + tile id.
    * Border rows duplicate into every tile whose closed rect contains
    * them — intended semantics, not a bug. */
  def explodeByTile(df: DataFrame, startMapId: Int = 63240001): DataFrame =
    df.withColumn("tid", explode(col("tile_ids")))
      .withColumn("map_id", col("tid") + startMapId)
      .drop("tile_ids", "tid")

  /** [[explodeByTile]] with each tile id looked up in `mapIds` (the
    * areas' ids in tile order, see [[mapIdAt]]); `map_id` stays int. */
  def explodeByTile(df: DataFrame, mapIds: Seq[Long]): DataFrame =
    df.withColumn("tid", explode(col("tile_ids")))
      .withColumn("map_id", mapIdAt(mapIds, col("tid")).cast("int"))
      .drop("tile_ids", "tid")

  /** Tile id (a position in the probed areas) -> that area's map id,
    * as a bigint literal lookup (1-based element_at; positions come
    * from the probe, always in range). Areas read from a split file
    * keep the ids they were written with, so an id is not
    * `--mapid` + position in general. */
  def mapIdAt(mapIds: Seq[Long], pos: Column): Column =
    element_at(array(mapIds.map(lit): _*), pos + 1)

  /** Element-version output policy (reference
    * `writer/AbstractOSMWriter.java:28-62`): keep the column, fake it
    * to a constant, or remove it. */
  def withVersionPolicy(df: DataFrame, policy: String): DataFrame = policy match {
    case "remove" => if (df.columns.contains("version")) df.drop("version") else df
    case "fake" => df.withColumn("version", lit(1))
    case _ => df
  }

  /**
   * Write the fan-out partitioned by tile. One shuffle
   * (repartition by map_id) so each tile directory is written by few
   * tasks instead of every task appending to every tile.
   */
  def writePartitioned(assigned: DataFrame, outDir: String,
                       versionPolicy: String = "keep",
                       mode: String = "overwrite"): Unit =
    withVersionPolicy(assigned, versionPolicy)
      .repartition(col("map_id"))
      .write.mode(mode)
      .partitionBy("map_id")
      .parquet(outDir)
}

/**
 * Membership-propagation joins for linked structures (the way/relation
 * analog): a link inherits the union of its members' tile sets; links
 * spanning more than one distinct tile are "problem" links
 * (reference `ProblemListProcessor.processWay:165-194` and
 * `SplitProcessor.processWay:126-163`).
 */
object LinkMembership {

  private val SaltBuckets = 16

  /**
   * Two-phase aggregation: the tile set is pre-aggregated on
   * (link_id, salt) first, so one viral link with millions of members
   * cannot overload a single reducer.
   *
   * @param links      (link_id, member_ids: array<string>)
   * @param assignment (doc_id, tile_ids: array<int>)
   * @return (link_id, tile_ids sorted distinct, is_problem)
   */
  def linkTiles(links: DataFrame, assignment: DataFrame): DataFrame =
    links
      .select(col("link_id"), explode(col("member_ids")).as("doc_id"))
      .join(assignment.select(col("doc_id"), col("tile_ids")), Seq("doc_id"))
      .select(col("link_id"), explode(col("tile_ids")).as("tid"))
      .groupBy(col("link_id"), pmod(xxhash64(col("tid")), lit(SaltBuckets)).as("salt"))
      .agg(collect_set(col("tid")).as("partial"))
      .groupBy("link_id")
      .agg(array_distinct(flatten(collect_set(col("partial")))).as("tset"))
      .select(
        col("link_id"),
        sort_array(col("tset")).as("tile_ids"),
        (size(col("tset")) > 1).as("is_problem"))

  /** Sorted problem-link ids (problem.list content). */
  def problemLinks(linkTiles: DataFrame): DataFrame =
    linkTiles.where(col("is_problem")).select(col("link_id")).orderBy("link_id")
}
