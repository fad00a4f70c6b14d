package graft.assign

import graft.functions.{ProbeRectExpr, ProbeTilesExpr}
import graft.geo.TileRect
import graft.index.TileIndex
import graft.ops.DriverGraph
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Joins for border-crossing ("problem") linked structures — the
 * reference's MultiTileProcessor machinery re-expressed as
 * cell-bucketed broadcast probes with integer-exact geometric
 * predicates:
 *
 *  - J4: link-bbox x tile-rect intersection join
 *    (`MultiTileProcessor.checkBoundingBox:596-608`)
 *  - J5: segment x tile-rect crossing join
 *    (`MultiTileProcessor.addWritersOfCrossedTiles:669-675`)
 *  - J8: recursive membership closure over link->link references
 *    (`MultiTileProcessor.markProblemMembers:298-350`)
 *
 * The spatial joins probe the broadcast [[TileIndex]] grid for the
 * candidate tiles of the cells each row's bbox/segment covers
 * (reference `AreaGrid.java:213-233`) instead of evaluating the
 * predicate against every tile in a BroadcastNestedLoopJoin — per-row
 * cost follows cell occupancy, not the tile count, which is what
 * survives a 10^4-tile planet split. All residual predicates are pure
 * 64-bit integer arithmetic on map units (cross products bounded by
 * 2^50), so they evaluate identically in any engine; the probe is a
 * codegen'd expression, so the whole join stays inside one
 * WholeStageCodegen + Generate span with no join operator at all.
 */
object ProblemJoins {

  /** Broadcast probe index over solved tiles (no overlap padding —
    * these joins run on the exact tile rects). */
  def tileIndexBroadcast(df: DataFrame,
                         tileRects: Seq[TileRect]): Broadcast[TileIndex] =
    df.sparkSession.sparkContext.broadcast(new TileIndex(tileRects.toArray, 0))

  /** Per-link bounding box from member point coordinates:
    * (link_id, min_lat, min_lon, max_lat, max_lon). */
  def linkBboxes(members: DataFrame): DataFrame =
    members.groupBy("link_id").agg(
      min(col("lat_mu")).as("min_lat"), min(col("lon_mu")).as("min_lon"),
      max(col("lat_mu")).as("max_lat"), max(col("lon_mu")).as("max_lon"))

  /** J4: every (link, tile) pair whose bbox intersects the tile rect.
    * Cell-bucketed probe + explode — no join operator, no per-row
    * scan of the tile dimension. */
  def bboxTileJoin(bboxes: DataFrame, tileRects: Seq[TileRect],
                   mapIds: Seq[Long]): DataFrame =
    bboxTileJoin(bboxes, tileIndexBroadcast(bboxes, tileRects), mapIds)

  private[graft] def bboxTileJoin(bboxes: DataFrame, bc: Broadcast[TileIndex],
                                  mapIds: Seq[Long]): DataFrame =
    bboxes.select(col("link_id"),
        explode(ProbeRectExpr.probeRectTiles(
          col("min_lat").cast("int"), col("min_lon").cast("int"),
          col("max_lat").cast("int"), col("max_lon").cast("int"), bc))
          .as("tpos"))
      .select(col("link_id"), TileAssigner.mapIdAt(mapIds, col("tpos")).as("map_id"))

  /**
   * Closed-rect x segment intersection, exact in integers:
   * bboxes must overlap AND the rect's four corners must not lie
   * strictly on one side of the segment's supporting line (min and
   * max corner cross-products straddle zero). Degenerate segments
   * reduce to point-in-rect.
   */
  def segmentIntersectsRect(x1: Column, y1: Column, x2: Column, y2: Column,
                            minLat: Column, minLon: Column,
                            maxLat: Column, maxLon: Column): Column = {
    val dx = (x2 - x1).cast("long")
    val dy = (y2 - y1).cast("long")
    def cross(cx: Column, cy: Column): Column =
      dx * (cy - y1).cast("long") - dy * (cx - x1).cast("long")
    val c1 = cross(minLon, minLat)
    val c2 = cross(minLon, maxLat)
    val c3 = cross(maxLon, minLat)
    val c4 = cross(maxLon, maxLat)
    val bboxOverlap =
      least(x1, x2) <= maxLon && greatest(x1, x2) >= minLon &&
        least(y1, y2) <= maxLat && greatest(y1, y2) >= minLat
    bboxOverlap && least(c1, c2, c3, c4) <= 0 && greatest(c1, c2, c3, c4) >= 0
  }

  /** J5: (segment, tile) crossing pairs. `segments` columns:
    * link_id, x1, y1, x2, y2 (consecutive member points, order
    * preserved from the member array — the span-order invariant).
    * Candidates come from the cells the segment's bbox covers; the
    * index applies the exact crossing residual. */
  def segmentTileJoin(segments: DataFrame, tileRects: Seq[TileRect],
                      mapIds: Seq[Long]): DataFrame =
    segmentTileJoin(segments, tileIndexBroadcast(segments, tileRects), mapIds)

  private[graft] def segmentTileJoin(segments: DataFrame,
                                     bc: Broadcast[TileIndex],
                                     mapIds: Seq[Long]): DataFrame =
    segments.select(col("link_id"),
        explode(ProbeRectExpr.probeSegmentTiles(
          col("x1").cast("int"), col("y1").cast("int"),
          col("x2").cast("int"), col("y2").cast("int"), bc)).as("tpos"))
      .select(col("link_id"), TileAssigner.mapIdAt(mapIds, col("tpos")).as("map_id"))
      .distinct()

  /**
   * O6: tile combinations whose union is an exact rectangle ("simple
   * neighbours"). A link whose member points all landed in tiles and
   * whose tile set is such a combination lies entirely inside one
   * convex rectangle, so its segments cannot cross any tile outside
   * the set — the segment theta-join can be elided for it (reference
   * `AreaDictionary.findSimpleNeigbours`, AreaDictionary.java:100-136,
   * consumed via `mayCross` at MultiTileProcessor.java:702-710).
   *
   * Returns sets of tile positions (indices into `tiles`), singletons
   * included; same guards as the reference: merged cardinality <= 10,
   * stop growing past `maxSets` combinations. Driver-side, O(pairs)
   * per fixpoint round over a list bounded by maxSets.
   */
  def simpleNeighbourSets(tiles: Seq[TileRect], maxCard: Int = 10,
                          maxSets: Int = 1000): Set[Set[Int]] = {
    val rects = scala.collection.mutable.ArrayBuffer.empty[(TileRect, Set[Int])]
    tiles.zipWithIndex.foreach { case (r, i) => rects += (r -> Set(i)) }
    val known = scala.collection.mutable.Set.empty[Set[Int]]
    var grew = true
    while (grew && known.size < maxSets) {
      grew = false
      val snap = rects.toVector
      for {
        i <- snap.indices
        j <- i + 1 until snap.size
      } {
        val (r1, s1) = snap(i)
        val (r2, s2) = snap(j)
        val sideBySide =
          (r1.minLat == r2.minLat && r1.maxLat == r2.maxLat &&
            (r1.minLon == r2.maxLon || r2.minLon == r1.maxLon)) ||
            (r1.minLon == r2.minLon && r1.maxLon == r2.maxLon &&
              (r1.minLat == r2.maxLat || r2.minLat == r1.maxLat))
        if (sideBySide && (s1 & s2).isEmpty) {
          val u = s1 ++ s2
          if (u.size <= maxCard && known.size < maxSets && !known.contains(u)) {
            known += u
            rects += (r1.union(r2) -> u)
            grew = true
          }
        }
      }
    }
    known.toSet ++ tiles.indices.map(Set(_))
  }

  /**
   * Keep-complete tile sets per link with the O6 elision: the union of
   * member-point tiles (J2) and segment-crossed tiles (J5), where the
   * segment join runs ONLY for links that may actually cross a border
   * — links fully inside a rectangle-forming tile combination are
   * anti-joined out of the segment side first.
   *
   * `members`: (link_id, doc_id, lat_mu, lon_mu) — one row per member
   * point. `segments`: (link_id, x1, y1, x2, y2). `tilesDim`:
   * (map_id, t_min_lat, t_min_lon, t_max_lat, t_max_lon) matching
   * `tileRects` positionally via `mapIds`.
   *
   * Elision is exact under closed-boundary point assignment: a member
   * point on the combination's outer border is also assigned to the
   * outside tile, which breaks the rectangle signature and routes the
   * link through the full segment join.
   */
  def keepCompleteTiles(members: DataFrame, segments: DataFrame,
                        tileRects: Seq[TileRect],
                        mapIds: Seq[Long]): DataFrame = {
    val bc = tileIndexBroadcast(members, tileRects)
    // (r7) memberTiles feeds the elision decision AND the final union
    // — materialize the probe once instead of re-running the
    // explode + broadcast probe per consumer
    val memberTiles = memberTileJoin(members, bc, mapIds)
      .localCheckpoint(false)
    val elidable = elidableLinks(members, memberTiles, tileRects, mapIds)
    val crossed = segmentTileJoin(
      segments.join(broadcast(elidable), Seq("link_id"), "left_anti"),
      bc, mapIds)
    memberTiles.select("link_id", "map_id").unionByName(crossed).distinct()
  }

  /** J2 point-in-tile containment join, keeping doc_id for the
    * all-members-matched check — the same zero-shuffle codegen'd
    * point probe the J1 assignment path uses. */
  def memberTileJoin(members: DataFrame, tileRects: Seq[TileRect],
                     mapIds: Seq[Long]): DataFrame =
    memberTileJoin(members, tileIndexBroadcast(members, tileRects), mapIds)

  private[graft] def memberTileJoin(members: DataFrame,
                                    bc: Broadcast[TileIndex],
                                    mapIds: Seq[Long]): DataFrame =
    members.select(col("link_id"), col("doc_id"),
        explode(ProbeTilesExpr.probeTiles(
          col("lat_mu").cast("int"), col("lon_mu").cast("int"), bc,
          nearestFallback = false)).as("tpos"))
      .select(col("link_id"), col("doc_id"),
        TileAssigner.mapIdAt(mapIds, col("tpos")).as("map_id"))

  /** Links whose segment join can be elided (O6): every member point
    * matched at least one tile AND the matched tile set is a
    * rectangle-forming simple-neighbour combination. */
  def elidableLinks(members: DataFrame, memberTiles: DataFrame,
                    tileRects: Seq[TileRect], mapIds: Seq[Long]): DataFrame = {
    val perLink = memberTiles.groupBy("link_id").agg(
      count_distinct(col("doc_id")).as("n_matched"),
      sort_array(collect_set(col("map_id"))).as("tile_set"))
    val totals = members.groupBy("link_id")
      .agg(count_distinct(col("doc_id")).as("n_members"))
    val spark = members.sparkSession
    val simpleSets = simpleNeighbourSets(tileRects).toSeq
      .map(s => Tuple1(s.map(mapIds).toSeq.sorted))
    val simpleDf = spark.createDataFrame(simpleSets).toDF("tile_set")
    perLink.join(totals, "link_id")
      .where(col("n_matched") === col("n_members"))
      .join(broadcast(simpleDf), Seq("tile_set"), "left_semi")
      .select("link_id")
  }

  /**
   * J8: transitive membership closure. `edges` (parent_id, child_id)
   * may nest up to `maxDepth` levels (the reference caps at 15 and
   * walks all relations in memory, `MultiTileProcessor.markProblemMembers:298-350`).
   * Returns (root_id, leaf_id) once for every leaf reachable from a
   * root in 1..`maxDepth` hops; the roots are the distinct parent ids,
   * and `(r, r)` appears when r lies on a cycle that short.
   *
   * Driver finish: one scan packs the edges ([[DriverGraph.collectEdges]]);
   * when every id is a non-null int or long and there are at most
   * 1 M edges ([[DriverFinishEdges]]), [[closurePairs]] runs a level
   * BFS per root on the driver and the result comes back as a local
   * DataFrame with the input's column types. Over the bound (edges, or
   * as many output pairs) or on a null id, the scan stops and the
   * distributed rounds of [[closureRounds]] run instead.
   *
   * Driver heap at the bound, measured in a local[4] JVM (tasks share
   * its heap) on 1 M edges over 2 M ids with 1 M output pairs: the live
   * heap after GC peaked 350 MB over idle, and 13 MB stayed held by the
   * result. The call took 1.95 s, the rounds 5.8 s.
   */
  def membershipClosure(edges: DataFrame, maxDepth: Int = 15): DataFrame =
    boundedClosure(edges, maxDepth, DriverFinishEdges)

  /** Edges, and output pairs, up to which [[membershipClosure]]
    * finishes on the driver. */
  private val DriverFinishEdges = 1000000L

  /** [[membershipClosure]] with the driver finish bounded at `maxEdges`
    * edges and output pairs. */
  private[graft] def boundedClosure(edges: DataFrame, maxDepth: Int,
                                    maxEdges: Long): DataFrame = {
    val types = (edges.schema("parent_id").dataType, edges.schema("child_id").dataType)
    val onDriver =
      if (!DriverGraph.integral(types._1) || !DriverGraph.integral(types._2)) None
      else DriverGraph.collectEdges(edges, "parent_id", "child_id", maxEdges)
        .flatMap { case (src, dst) =>
          closurePairs(DriverGraph.dense(src, dst), maxDepth, maxEdges)
        }
    onDriver match {
      case Some((roots, leaves, n)) =>
        DriverGraph.pairFrame(edges.sparkSession, roots, leaves, n, ("root_id", "leaf_id"),
          types)
      case None => closureRounds(edges, maxDepth)
    }
  }

  /** The closure of a dense edge list: a CSR adjacency and a level BFS
    * per root, with one int-stamped visited array that no root clears.
    * Returns the (root id, leaf id) arrays and the pair count, or None
    * past `maxPairs` pairs. */
  private def closurePairs(g: DriverGraph.Dense, maxDepth: Int,
                           maxPairs: Long): Option[(Array[Long], Array[Long], Int)] = {
    val nIds = g.ids.length
    val first = new Array[Int](nIds + 1)
    g.src.foreach(s => first(s + 1) += 1)
    var i = 0
    while (i < nIds) { first(i + 1) += first(i); i += 1 }
    val next = new Array[Int](g.src.length)
    val fill = java.util.Arrays.copyOf(first, nIds)
    i = 0
    while (i < g.src.length) { next(fill(g.src(i))) = g.dst(i); fill(g.src(i)) += 1; i += 1 }

    val bound = math.min(maxPairs, Int.MaxValue - 8L).toInt
    var roots = new Array[Long](math.min(bound, 1024))
    var leaves = new Array[Long](roots.length)
    var n = 0
    val seen = new Array[Int](nIds)
    // the root itself is not marked: reaching it again is a cycle
    val queue = new Array[Int](nIds + 1)
    val levels = math.max(1, maxDepth)
    var r = 0
    while (r < nIds) {
      if (first(r + 1) > first(r)) {
        val stamp = r + 1
        queue(0) = r
        var lo = 0
        var hi = 1
        var depth = 0
        while (depth < levels && lo < hi) {
          val end = hi
          while (lo < end) {
            val u = queue(lo)
            lo += 1
            var k = first(u)
            while (k < first(u + 1)) {
              val v = next(k)
              if (seen(v) != stamp) {
                if (n == bound) return None
                if (n == roots.length) {
                  val grown = math.min(bound.toLong, 2L * n).toInt
                  roots = java.util.Arrays.copyOf(roots, grown)
                  leaves = java.util.Arrays.copyOf(leaves, grown)
                }
                seen(v) = stamp
                queue(hi) = v
                hi += 1
                roots(n) = g.ids(r)
                leaves(n) = g.ids(v)
                n += 1
              }
              k += 1
            }
          }
          depth += 1
        }
      }
      r += 1
    }
    Some((roots, leaves, n))
  }

  /** The distributed closure: one self-equi-join round per level. */
  private[graft] def closureRounds(edges: DataFrame, maxDepth: Int): DataFrame = {
    // Each round: frontier ⋈ edges, then anti-join against the RUNNING
    // checkpointed closure — never exceptAll, never a re-union of
    // per-round deltas (which would rebuild the union plan every
    // round). Both the per-round delta and the updated closure are
    // localCheckpointed, so lineage stays flat and each round's
    // anti-join reads one materialized frame.
    val e = edges.select(col("parent_id"), col("child_id"))
      .localCheckpoint(true)
    var known = e
      .select(col("parent_id").as("root_id"), col("child_id").as("leaf_id"))
      .distinct().localCheckpoint(true)
    var frontier = known
    var frontierSize = 1L // known is non-empty unless edges is; probed below
    var depth = 1
    while (depth < maxDepth && frontierSize > 0) {
      val next = frontier
        .join(e.withColumnRenamed("parent_id", "leaf_id"), "leaf_id")
        .select(col("root_id"), col("child_id").as("leaf_id"))
        .distinct()
      // (r7) lazy checkpoint + count: the count both materializes the
      // round's delta (fully — safe to reuse) and answers the
      // emptiness probe, one job instead of eager-checkpoint + isEmpty
      val newPairs = next
        .join(known, Seq("root_id", "leaf_id"), "left_anti")
        .localCheckpoint(false)
      frontierSize = newPairs.count()
      frontier = newPairs
      if (frontierSize > 0) {
        known = known.unionByName(newPairs).localCheckpoint(true)
        depth += 1
      }
    }
    known
  }
}
