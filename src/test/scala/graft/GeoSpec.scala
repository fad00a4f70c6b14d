package graft

import graft.geo._
import org.scalatest.funsuite.AnyFunSuite

class GeoSpec extends AnyFunSuite {

  test("map unit conversion round trips") {
    assert(MapUnits.toMapUnit(0.0) === 0)
    assert(MapUnits.toMapUnit(180.0) === 1 << 23)
    assert(MapUnits.toMapUnit(-180.0) === -(1 << 23))
    for (d <- Seq(-89.9, -45.5, -0.1, 0.1, 33.33, 85.0)) {
      val mu = MapUnits.toMapUnit(d)
      assert(math.abs(MapUnits.toDegrees(mu) - d) < 360.0 / (1 << 24),
        s"round trip $d")
    }
  }

  test("rounding to 2^shift works for negative values too") {
    assert(MapUnits.roundDown(4097, 11) === 4096)
    assert(MapUnits.roundUp(4097, 11) === 6144)
    assert(MapUnits.roundDown(-1, 11) === -2048)
    assert(MapUnits.roundUp(-1, 11) === 0)
    assert(MapUnits.roundDown(-2048, 11) === -2048)
    for (v <- Seq(-100000, -2049, -1, 0, 1, 2047, 2048, 999999)) {
      val d = MapUnits.roundDown(v, 11)
      assert(d % 2048 === 0 && d <= v && v - d < 2048)
      val u = MapUnits.roundUp(v, 11)
      assert(u % 2048 === 0 && u >= v && u - v < 2048)
    }
  }

  test("TileRect closed-boundary contains and overlap semantics") {
    val r = TileRect(0, 0, 100, 200)
    assert(r.contains(0, 0) && r.contains(100, 200) && r.contains(50, 100))
    assert(!r.contains(101, 100) && !r.contains(50, 201))
    val touching = TileRect(100, 0, 200, 200)
    assert(r.intersects(touching))
    assert(!r.overlaps(touching)) // shared edge only
    assert(r.overlaps(TileRect(99, 0, 200, 200)))
  }

  test("TileRect roundedTo aligns and clamps") {
    val r = TileRect(-2796203, -5592406, 2796203, 5592406).roundedTo(13)
    assert(r.minLat % 2048 === 0 && r.maxLat % 2048 === 0)
    assert(r.minLon % 2048 === 0 && r.maxLon % 2048 === 0)
    assert(r.containsRect(TileRect(-2796203, -5592406, 2796203, 5592406)))
  }

  test("overlap defaults follow keep-complete mode (reference Main.java:432-449)") {
    import graft.app.SplitterArgs
    def overlap(args: String*): Int =
      SplitterArgs.parse(args :+ "x").toOption.get.toConfig.overlap
    assert(overlap("--keep-complete=true") === 0)
    assert(overlap("--keep-complete=false") === 2000)
    assert(overlap("--keep-complete=false", "--overlap=500") === 500)
    assert(overlap("--keep-complete=true", "--overlap=500") === 500)
  }

  test("coordinate synthesis stays in window and is deterministic") {
    for (id <- 0L until 5000L) {
      val (lat, lon) = CoordSynthesis.latLonOf(id)
      assert(lat >= CoordSynthesis.LatMin && lat < CoordSynthesis.LatMax)
      assert(lon >= CoordSynthesis.LonMin && lon < CoordSynthesis.LonMax)
      assert((lat, lon) === CoordSynthesis.latLonOf(id))
    }
  }
}
