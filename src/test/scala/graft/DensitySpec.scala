package graft

import graft.density.{DensityGrid, DensityJob}
import graft.geo.TileRect
import graft.pipeline.{SplitConfig, SplitPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The driver collect of the distributed cell histogram against a
 * driver-side reference: [[DensityGrid.addPoint]] once per point
 * (reference `DensityMap.addNode:125-140`, closed north/east edges,
 * out-of-bounds points ignored).
 */
class DensitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Res = 13
  // not grid-aligned: the collectors align it, and count every point
  // of the aligned rect
  private val bounds = TileRect(100003, -300017, 180001, -200005)
  private val aligned = bounds.roundedTo(Res)

  /** Random points around `aligned` (some outside), plus every
    * closed-edge corner and points just outside each edge. */
  private def points(seed: Int, n: Int, maxLon: Int): Seq[(Int, Int, Long)] = {
    val rnd = new scala.util.Random(seed)
    def between(lo: Int, hi: Int) = lo + rnd.nextInt(hi - lo + 1)
    val random = Seq.fill(n)((between(aligned.minLat - 3000, aligned.maxLat + 3000),
      between(aligned.minLon - 3000, maxLon)))
    val edges = Seq(
      (aligned.maxLat, aligned.maxLon), (aligned.maxLat, aligned.minLon),
      (aligned.minLat, aligned.maxLon), (aligned.minLat, aligned.minLon),
      (aligned.maxLat, aligned.minLon + 5000), (aligned.minLat + 7000, aligned.maxLon),
      (aligned.maxLat + 1, aligned.minLon + 5000), (aligned.minLat - 1, aligned.minLon),
      (aligned.minLat + 7000, aligned.maxLon + 1), (aligned.minLat, aligned.minLon - 1))
    (random ++ edges).map { case (lat, lon) => (lat, lon, rnd.nextLong()) }
  }

  private def reference(pts: Seq[(Int, Int, Long)]): DensityGrid = {
    val g = new DensityGrid(aligned, Res)
    pts.foreach { case (lat, lon, _) => g.addPoint(lat, lon) }
    g
  }

  private def cell(g: DensityGrid, x: Int, y: Int): Int =
    Option(g.columnOrNull(x)).fold(0)(_(y))

  private def assertCells(got: DensityGrid, want: (Int, Int) => Int): Unit = {
    assert(got.bounds === aligned)
    assert(got.resolution === Res)
    for (x <- 0 until got.width; y <- 0 until got.height)
      assert(cell(got, x, y) === want(x, y), s"cell ($x, $y)")
  }

  private val land = points(7, 4000, aligned.maxLon + 3000)

  private def df(pts: Seq[(Int, Int, Long)]) = {
    import spark.implicits._
    pts.toDF("lat_mu", "lon_mu", "fp").repartition(4)
  }

  test("collectGrid counts every point like DensityGrid.addPoint") {
    val want = reference(land)
    assert(want.totalCount < land.size, "some points lie outside the bounds")
    val got = DensityJob.collectGrid(df(land), col("lat_mu"), col("lon_mu"),
      bounds, Res)
    assertCells(got, cell(want, _, _))
    assert(got.totalCount === want.totalCount)
  }

  test("collectGridWithXor returns the same grid and the XOR of fp") {
    val want = reference(land)
    val inside = land.filter { case (lat, lon, _) => aligned.contains(lat, lon) }
    val (got, xor) = DensityJob.collectGridWithXor(df(land), col("lat_mu"),
      col("lon_mu"), col("fp"), bounds, Res)
    assertCells(got, cell(want, _, _))
    assert(xor === inside.map(_._3).reduce(_ ^ _),
      "the XOR covers the rows inside the bounds")
    // over the data's own bounding box, that is every row
    val all = df(inside)
    val (_, xorAll) = DensityJob.collectGridWithXor(all, col("lat_mu"),
      col("lon_mu"), col("fp"), DensityJob.bbox(all, col("lat_mu"), col("lon_mu")),
      Res)
    assert(xorAll === inside.map(_._3).reduce(_ ^ _))
  }

  test("sea-merged grid: land wins, else sea times 2, cell by cell") {
    // land only in the west half, sea everywhere: both land cells and
    // sea-only cells occur
    val west = points(11, 3000, aligned.minLon + aligned.width / 2)
    val sea = points(13, 2000, aligned.maxLon + 3000)
    val landRef = reference(west)
    val seaRef = reference(sea)
    val got = SplitPipeline.computeGrid(df(west),
      SplitConfig(resolution = Res, bounds = Some(bounds)),
      Some(df(sea).select("lat_mu", "lon_mu")))
    assertCells(got, (x, y) =>
      if (cell(landRef, x, y) > 0) cell(landRef, x, y) else cell(seaRef, x, y) * 2)
    val seaOnly = for (x <- 0 until got.width; y <- 0 until got.height)
      yield cell(landRef, x, y) == 0 && cell(seaRef, x, y) > 0
    assert(seaOnly.contains(true), "some cells take the sea count")
  }
}
