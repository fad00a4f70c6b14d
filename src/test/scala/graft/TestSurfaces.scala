package graft

import graft.density.DensityGrid
import graft.geo.{MapUnits, TileRect}

import scala.util.Random

/**
 * Deterministic synthetic density surfaces for driver-side solver
 * tests — the four generator modes from FIXTURES.md: uniform,
 * clustered (Zipf cities), hotcell (single-cell skew) and banded
 * (empty gap > 30 degrees).
 */
object TestSurfaces {
  val Window: TileRect = TileRect(
    MapUnits.toMapUnit(-60), MapUnits.toMapUnit(-120),
    MapUnits.toMapUnit(60), MapUnits.toMapUnit(120))

  def pointsUniform(n: Int, seed: Long = 42): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    Seq.fill(n)((
      Window.minLat + rnd.nextInt(Window.height),
      Window.minLon + rnd.nextInt(Window.width)))
  }

  def pointsClustered(n: Int, k: Int = 12, seed: Long = 42): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    val spread = 1 << 18
    val centers = Seq.fill(k)((
      Window.minLat + spread + rnd.nextInt(Window.height - 2 * spread),
      Window.minLon + spread + rnd.nextInt(Window.width - 2 * spread)))
    // Zipf(1.2)-ish weights
    val weights = (1 to k).map(i => 1.0 / math.pow(i, 1.2))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    Seq.fill(n) {
      if (rnd.nextDouble() < 0.05)
        (Window.minLat + rnd.nextInt(Window.height),
          Window.minLon + rnd.nextInt(Window.width))
      else {
        val u = rnd.nextDouble()
        val c = centers(cum.indexWhere(u <= _))
        ((c._1 + rnd.nextGaussian() * spread / 4).toInt
           .max(Window.minLat).min(Window.maxLat - 1),
          (c._2 + rnd.nextGaussian() * spread / 4).toInt
            .max(Window.minLon).min(Window.maxLon - 1))
      }
    }
  }

  /** 30% of all points in ONE resolution-13 grid cell (3x maxNodes in
    * the specs) with the rest uniform over a +-15 degree box around
    * it: exercises the single-cell-overflow terminal while keeping the
    * search tractable (80%-in-one-cell at planet extent is the
    * "resolution far too low" pathology the reference only warns
    * about). */
  def pointsHotcell(n: Int, seed: Long = 42): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    val cellLat = MapUnits.roundDown(MapUnits.toMapUnit(10), 11)
    val cellLon = MapUnits.roundDown(MapUnits.toMapUnit(20), 11)
    val r = MapUnits.toMapUnit(15)
    Seq.fill(n) {
      if (rnd.nextDouble() < 0.3)
        (cellLat + rnd.nextInt(2048), cellLon + rnd.nextInt(2048))
      else
        (cellLat - r + rnd.nextInt(2 * r), cellLon - r + rnd.nextInt(2 * r))
    }
  }

  def pointsBanded(n: Int, seed: Long = 42): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    val bandH = MapUnits.toMapUnit(8)
    Seq.fill(n) {
      val south = rnd.nextBoolean()
      val lat =
        if (south) Window.minLat + rnd.nextInt(bandH)
        else Window.maxLat - bandH + rnd.nextInt(bandH)
      (lat, Window.minLon + rnd.nextInt(Window.width))
    }
  }

  def gridOf(points: Seq[(Int, Int)], resolution: Int = 13): DensityGrid = {
    val lats = points.map(_._1)
    val lons = points.map(_._2)
    // +1 on the max edges so the rounded grid bound lies strictly above
    // every point (keeps the half-open test oracle exact)
    val bbox = TileRect.nonDegenerate(lats.min, lons.min, lats.max + 1, lons.max + 1)
    val g = new DensityGrid(bbox.roundedTo(resolution), resolution)
    points.foreach { case (lat, lon) => g.addPoint(lat, lon) }
    g
  }

  /** Concave L inside `b`: the full west half plus the south half of
    * the east half (x = lon, y = lat, map units). */
  def lShape(b: TileRect): java.awt.geom.Area = {
    val midLon = b.minLon + b.width / 2
    val midLat = b.minLat + b.height / 2
    graft.solver.PolygonSupport.polygonOf(Seq((Seq(
      (b.minLat, b.minLon), (b.maxLat, b.minLon), (b.maxLat, midLon),
      (midLat, midLon), (midLat, b.maxLon), (b.minLat, b.maxLon)), true)))
  }

  def all(n: Int): Map[String, Seq[(Int, Int)]] = Map(
    "uniform" -> pointsUniform(n),
    "clustered" -> pointsClustered(n),
    "hotcell" -> pointsHotcell(n),
    "banded" -> pointsBanded(n))
}
