package graft

import graft.density.DensityGrid
import graft.geo.TileRect
import graft.solver.BspSolver
import org.scalatest.funsuite.AnyFunSuite

class SolverSpec extends AnyFunSuite {

  private def solve(grid: DensityGrid, maxNodes: Long, trim: Boolean = true,
                    searchLimit: Int = BspSolver.DefaultSearchLimit): List[TileRect] = {
    val s = new BspSolver(grid, searchLimit)
    s.maxNodes = maxNodes
    s.trimShape = trim
    s.split()
  }

  /** brute-force per-rect count straight from the points (half-open on
    * max edges, matching grid-cell membership of interior tiles). */
  private def countIn(r: TileRect, pts: Seq[(Int, Int)]): Long =
    pts.count { case (lat, lon) =>
      lat >= r.minLat && lat < r.maxLat && lon >= r.minLon && lon < r.maxLon
    }

  // per-mode configs: hotcell has a single cell at 3x maxNodes, which is
  // provably unsolvable at high minNodes with AR < 4 — the search must
  // exhaust its budget before relaxing, so it runs with a small
  // search-limit (the reference's --search-limit escape hatch);
  // clustered (gaussian cities over a planet-wide sparse background)
  // runs at res 12 to keep the suite fast.
  private val configs = Seq(
    ("uniform", 13, 2000L, BspSolver.DefaultSearchLimit),
    ("clustered", 12, 2000L, BspSolver.DefaultSearchLimit),
    ("hotcell", 13, 2000L, 20000),
    ("banded", 13, 2000L, BspSolver.DefaultSearchLimit))

  for ((mode, res, maxNodes, limit) <- configs) {
    val pts = TestSurfaces.all(20000)(mode)
    val grid = TestSurfaces.gridOf(pts, res)
    val align = 1 << (24 - res)

    test(s"$mode: split invariants hold") {
      val tiles = solve(grid, maxNodes, searchLimit = limit)
      assert(tiles.nonEmpty)
      // 1. aligned to 2^shift
      tiles.foreach { t =>
        assert(t.minLat % align === 0 && t.maxLat % align === 0, s"lat align $t")
        assert(t.minLon % align === 0 && t.maxLon % align === 0, s"lon align $t")
        assert(t.verify)
      }
      // 2. pairwise non-overlapping interiors
      for (i <- tiles.indices; j <- i + 1 until tiles.size)
        assert(!tiles(i).overlaps(tiles(j)), s"overlap ${tiles(i)} ${tiles(j)}")
      // 3. every point covered
      val lost = pts.filterNot { case (lat, lon) =>
        tiles.exists(t => lat >= t.minLat && lat < t.maxLat &&
          lon >= t.minLon && lon < t.maxLon)
      }
      assert(lost.isEmpty, s"${lost.size} points uncovered, e.g. ${lost.take(3)}")
      // 4. per-tile count <= maxNodes unless single grid cell
      tiles.foreach { t =>
        val c = countIn(t, pts)
        val singleCell = t.width <= align && t.height <= align
        assert(c <= maxNodes || singleCell, s"tile $t holds $c > $maxNodes")
      }
      // 5. total count preserved (tiles partition the point set)
      assert(tiles.map(countIn(_, pts)).sum === pts.size)
    }
  }

  test("bugCompatTrim keeps every split invariant (quirk-parity mode)") {
    // the reference's TOP-side slip (Solution.java:242-243) only
    // changes how far top tiles shrink; coverage, disjointness and
    // counts must all survive with the quirk replicated
    val pts = TestSurfaces.pointsClustered(20000)
    val grid = TestSurfaces.gridOf(pts, 12)
    val s = new BspSolver(grid)
    s.maxNodes = 2000L
    s.trimShape = true
    s.bugCompatTrim = true
    val tiles = s.split()
    assert(tiles.nonEmpty)
    for (i <- tiles.indices; j <- i + 1 until tiles.size)
      assert(!tiles(i).overlaps(tiles(j)))
    val lost = pts.filterNot { case (lat, lon) =>
      tiles.exists(t => lat >= t.minLat && lat < t.maxLat &&
        lon >= t.minLon && lon < t.maxLon)
    }
    assert(lost.isEmpty)
    assert(tiles.map(countIn(_, pts)).sum === pts.size)
  }

  test("split is deterministic across repeated runs") {
    val pts = TestSurfaces.pointsClustered(20000)
    val t1 = solve(TestSurfaces.gridOf(pts, 12), 2000L)
    val t2 = solve(TestSurfaces.gridOf(pts, 12), 2000L)
    assert(t1 === t2)
  }

  test("hotcell: single overflowing cell becomes its own tile") {
    val pts = TestSurfaces.pointsHotcell(20000)
    val tiles = solve(TestSurfaces.gridOf(pts, 13), 2000L, searchLimit = 20000)
    val over = tiles.filter(countIn(_, pts) > 2000)
    assert(over.nonEmpty)
    over.foreach(t => assert(t.width <= 2048 && t.height <= 2048,
      s"oversized tile $t is not a single cell"))
  }

  test("num-tiles bisection yields the requested tile count") {
    val pts = TestSurfaces.pointsUniform(20000)
    val grid = TestSurfaces.gridOf(pts, 13)
    val s = new BspSolver(grid)
    s.trimShape = true
    val tiles = s.splitIntoTiles(8)
    assert(tiles.size === 8, s"wanted 8 tiles got ${tiles.size}")
  }

  test("empty-cluster detection separates the two bands") {
    val pts = TestSurfaces.pointsBanded(20000)
    val tiles = solve(TestSurfaces.gridOf(pts, 13), 2000L)
    val gapLo = graft.geo.MapUnits.toMapUnit(-40)
    val gapHi = graft.geo.MapUnits.toMapUnit(40)
    tiles.foreach { t =>
      assert(!(t.minLat < gapLo && t.maxLat > gapHi),
        s"tile $t spans the empty gap")
    }
  }

  test("golden: exact tiles and search effort on fixed fixtures") {
    // pins the solver's exact output: an MD5 of each tile list and the
    // tiles the search examined (testedTiles), so a refactor that
    // changes the positions visited or their order fails here even
    // when every invariant above still holds. Fixtures whose search
    // examines more than about 10^6 tiles are left out to keep the case
    // within seconds, so splitIntoTiles(3) and the constrained L-shape
    // run at res 11 (at res 13 and 12 they examine 3.0 M and 1.5 M).
    import graft.geo.CoordSynthesis
    import graft.solver.PolygonSupport
    def digest(tiles: Seq[TileRect]): String =
      java.security.MessageDigest.getInstance("MD5").digest(tiles
        .map(t => s"${t.minLat},${t.minLon},${t.maxLat},${t.maxLon}").mkString(";")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    def run(grid: DensityGrid, trim: Boolean = true, bugCompat: Boolean = false,
            maxNodes: Long = 2000L)(solve: BspSolver => List[TileRect]): String = {
      val s = new BspSolver(grid)
      s.maxNodes = maxNodes
      s.trimShape = trim
      s.bugCompatTrim = bugCompat
      val tiles = solve(s)
      s"${tiles.size} tiles ${digest(tiles)} tested ${s.testedTiles}"
    }
    def grid(mode: String, res: Int) = TestSurfaces.gridOf(TestSurfaces.all(20000)(mode), res)
    def lShape(g: DensityGrid) = PolygonSupport.rasterToGrid(TestSurfaces.lShape(g.bounds), g)
    val (uniform11, uniform12) = (grid("uniform", 11), grid("uniform", 12))
    // the corpus_split benchmark's solve: 50k synthesized documents
    val corpus = new DensityGrid(TileRect(CoordSynthesis.LatMin, CoordSynthesis.LonMin,
      CoordSynthesis.LatMax, CoordSynthesis.LonMax).roundedTo(13), 13)
    (0L until 50000L).foreach { id =>
      val (lat, lon) = CoordSynthesis.latLonOf(id)
      corpus.addPoint(lat, lon)
    }
    val got = Seq(
      "uniform" -> run(grid("uniform", 13))(_.split()),
      "clustered res 12, trim off" -> run(grid("clustered", 12), trim = false)(_.split()),
      "banded, trim off" -> run(grid("banded", 13), trim = false)(_.split()),
      "banded max-nodes 500, bugCompatTrim" ->
        run(grid("banded", 13), bugCompat = true, maxNodes = 500L)(_.split()),
      "splitIntoTiles(3), uniform res 11" -> run(uniform11)(_.splitIntoTiles(3)),
      "L-shape sliced" -> run(uniform12, trim = false)(_.splitPolygonSliced(lShape(uniform12))),
      "L-shape constrained, res 11" ->
        run(uniform11, trim = false)(_.splitConstrained(Some(lShape(uniform11)))),
      "corpus 50k, max-nodes 2000" -> run(corpus)(_.split()))
    val want = Seq(
      "uniform" -> "17 tiles c4e2be01aaa654833b31f90a24a06a1c tested 325",
      "clustered res 12, trim off" -> "18 tiles 11e560e1a51bfdc484c1c3d17f81e510 tested 12956",
      "banded, trim off" -> "16 tiles ccf63472793adb7c013d7eb06b13b129 tested 8459",
      "banded max-nodes 500, bugCompatTrim" ->
        "44 tiles 779481896c4d795e101fc3d085be7c4c tested 196322",
      "splitIntoTiles(3), uniform res 11" ->
        "3 tiles 5ce0db0fb0f0ed88a8741a4ad6e2be75 tested 201070",
      "L-shape sliced" -> "8 tiles c7ec33c338314004e9ea9ab738bdca60 tested 157676",
      "L-shape constrained, res 11" -> "8 tiles 3086df15a193bf4dc92090ce67e2ab1e tested 85745",
      "corpus 50k, max-nodes 2000" -> "40 tiles c383f9983396b62136b3f82bebcfc120 tested 2954")
    assert(got === want, got.map { case (k, v) => s"\n  \"$k\" -> \"$v\"" }.mkString)
  }

  test("tiny input produces a single tile") {
    val pts = Seq((1000, 1000), (1500, 1500), (2000, 2000))
    val tiles = solve(TestSurfaces.gridOf(pts), 100L, trim = false)
    assert(tiles.size === 1)
    assert(countIn(tiles.head, pts) === 3)
  }

  test("single-cell overflow terminal on a constructed grid") {
    val b = TileRect(0, 0, 3 * 2048, 3 * 2048)
    val g = new DensityGrid(b, 13)
    for (x <- 0 until 3; y <- 0 until 3) g.addToCell(x, y, if (x == 1 && y == 1) 30 else 1)
    val s = new BspSolver(g)
    s.maxNodes = 10
    val tiles = s.split()
    // the hot center cell must be isolated as a single-cell tile
    val hot = tiles.find(t => t.contains(1 * 2048 + 1, 1 * 2048 + 1) &&
      t.width == 2048 && t.height == 2048)
    assert(hot.isDefined, s"hot cell not isolated in $tiles")
  }
}
