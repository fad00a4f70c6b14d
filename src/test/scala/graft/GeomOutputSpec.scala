package graft

import graft.geo.{MapUnits, RectAlgebra, TileRect}
import graft.output.{AreaDef, AreaWriters, PolyWriters}
import graft.solver.PolygonSupport
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class GeomOutputSpec extends AnyFunSuite {

  private def tmp(suffix: String): String =
    java.nio.file.Files.createTempFile("graft", suffix).toString

  // brute-force membership oracle for rect-set algebra
  private def covered(rects: Seq[TileRect], lat: Int, lon: Int): Boolean =
    rects.exists(r => lat >= r.minLat && lat < r.maxLat &&
      lon >= r.minLon && lon < r.maxLon)

  test("nonOverlapping: disjoint and union-preserving (randomized)") {
    val rnd = new Random(5)
    for (_ <- 0 until 20) {
      val rects = Seq.fill(2 + rnd.nextInt(10)) {
        val lat = rnd.nextInt(100000)
        val lon = rnd.nextInt(100000)
        TileRect(lat, lon, lat + 1 + rnd.nextInt(50000), lon + 1 + rnd.nextInt(50000))
      }
      val disjoint = RectAlgebra.nonOverlapping(rects)
      for (i <- disjoint.indices; j <- i + 1 until disjoint.size)
        assert(!disjoint(i).overlaps(disjoint(j)))
      // same union, sampled
      for (_ <- 0 until 500) {
        val la = rnd.nextInt(160000)
        val lo = rnd.nextInt(160000)
        assert(covered(rects, la, lo) === covered(disjoint, la, lo), s"at ($la,$lo)")
      }
    }
  }

  test("pseudoAreas: complement within outer bbox, total coverage") {
    val rnd = new Random(9)
    val outer = TileRect(0, 0, 200000, 200000)
    val rects = Seq(
      TileRect(10000, 10000, 50000, 80000),
      TileRect(40000, 60000, 120000, 150000),
      TileRect(150000, 0, 200000, 40000))
    val pseudo = RectAlgebra.pseudoAreas(rects, outer)
    val all = RectAlgebra.nonOverlapping(rects) ++ pseudo
    for (i <- all.indices; j <- i + 1 until all.size)
      assert(!all(i).overlaps(all(j)))
    for (_ <- 0 until 2000) {
      val la = rnd.nextInt(200000)
      val lo = rnd.nextInt(200000)
      assert(covered(all, la, lo), s"hole at ($la,$lo)")
      assert(covered(rects, la, lo) !== covered(pseudo, la, lo))
    }
  }

  test("areas.list round trip") {
    val areas = Seq(
      AreaDef(63240001, TileRect(-2048, -4096, 2048, 4096)),
      AreaDef(63240002, TileRect(2048, -4096, 6144, 4096)))
    val p = tmp(".list")
    AreaWriters.writeAreasList(p, areas)
    val back = AreaWriters.readAreasList(p)
    assert(back.map(a => (a.mapId, a.rect)) === areas.map(a => (a.mapId, a.rect)))
  }

  test("problem.list round trip, sorted") {
    val p = tmp(".problem")
    AreaWriters.writeProblemList(p, Seq("w9", "w1"), Seq("r5"))
    val (w, r) = AreaWriters.readProblemList(p)
    assert(w === Seq("w1", "w9") && r === Seq("r5"))
  }

  test("areas.poly: union rings are closed rectilinear outlines") {
    // an L-shape: two touching rects -> one 6-vertex outer ring
    val rects = Seq(
      TileRect(0, 0, 100, 200),
      TileRect(100, 0, 200, 100))
    val rings = PolyWriters.unionRings(rects)
    assert(rings.size === 1)
    val (ring, outer) = rings.head
    assert(outer)
    assert(ring.size === 6, s"L-shape must have 6 corners, got $ring")
    // rectilinear: consecutive points share exactly one coordinate
    (ring :+ ring.head).sliding(2).foreach { case Seq(a, b) =>
      assert((a._1 == b._1) != (a._2 == b._2), s"diagonal edge $a -> $b")
    }
    val p = tmp(".poly")
    PolyWriters.writePoly(p, "test", rects)
    val back = PolyWriters.readPoly(p)
    assert(back.size === 1 && back.head._2)
  }

  test("kml round trip") {
    val areas = Seq(
      AreaDef(63240001, TileRect(MapUnits.roundDown(-220000, 11), MapUnits.roundDown(-420000, 11),
        MapUnits.roundUp(204800, 11), MapUnits.roundUp(409600, 11))))
    val p = tmp(".kml")
    PolyWriters.writeKml(p, areas)
    val back = PolyWriters.readKml(p)
    assert(back.size === 1)
    assert(back.head.mapId === 63240001)
    // degree round trip loses < 1 map unit per edge
    assert(math.abs(back.head.rect.minLat - areas.head.rect.minLat) <= 1)
    assert(math.abs(back.head.rect.maxLon - areas.head.rect.maxLon) <= 1)
  }

  test("V9 vertex slicing: same invariants, far fewer tested tiles on a concave polygon") {
    import graft.solver.BspSolver
    val pts = TestSurfaces.pointsUniform(20000)
    val grid = TestSurfaces.gridOf(pts, 12)
    val poly = TestSurfaces.lShape(grid.bounds)
    def solve(slicing: Boolean): (List[graft.geo.TileRect], Long) = {
      val bits = PolygonSupport.rasterToGrid(poly, grid)
      val s = new BspSolver(grid)
      s.maxNodes = 2000
      val tiles =
        if (slicing) s.splitPolygonSliced(bits)
        else s.splitConstrained(Some(bits))
      (tiles, s.testedTiles)
    }
    val (sliced, nSliced) = solve(slicing = true)
    val (full, nFull) = solve(slicing = false)
    for (tiles <- Seq(sliced, full)) {
      assert(tiles.nonEmpty)
      tiles.foreach { t =>
        assert(poly.intersects(t.minLon, t.minLat, t.width, t.height),
          s"tile $t entirely outside polygon")
      }
      for (i <- tiles.indices; j <- i + 1 until tiles.size)
        assert(!tiles(i).overlaps(tiles(j)))
      val lost = pts.filter { case (lat, lon) => poly.contains(lon, lat) }
        .filterNot { case (lat, lon) =>
          tiles.exists(t => lat >= t.minLat && lat < t.maxLat &&
            lon >= t.minLon && lon < t.maxLon)
        }
      assert(lost.isEmpty, s"${lost.size} in-polygon points uncovered")
    }
    assert(nSliced * 2 <= nFull,
      s"vertex slicing must cut the search effort: sliced=$nSliced full=$nFull")
  }

  test("polygon-constrained split keeps tiles near the polygon") {
    val pts = TestSurfaces.pointsUniform(20000)
    val grid = TestSurfaces.gridOf(pts, 12)
    // triangle over the west half of the window
    val b = grid.bounds
    val poly = PolygonSupport.polygonOf(Seq((Seq(
      (b.minLat, b.minLon), (b.maxLat, b.minLon),
      (b.minLat + b.height / 2, b.minLon + b.width / 2)), true)))
    val tiles = PolygonSupport.split(grid, poly, 2000)
    assert(tiles.nonEmpty)
    // every tile intersects the polygon (none fully outside)
    tiles.foreach { t =>
      assert(poly.intersects(t.minLon, t.minLat, t.width, t.height),
        s"tile $t entirely outside polygon")
    }
    // tiles stay disjoint
    for (i <- tiles.indices; j <- i + 1 until tiles.size)
      assert(!tiles(i).overlaps(tiles(j)))
    // all in-polygon points are covered
    val awt = poly
    val lost = pts.filter { case (lat, lon) => awt.contains(lon, lat) }
      .filterNot { case (lat, lon) =>
        tiles.exists(t => lat >= t.minLat && lat < t.maxLat &&
          lon >= t.minLon && lon < t.maxLon)
      }
    assert(lost.isEmpty, s"${lost.size} in-polygon points uncovered")
  }
}
