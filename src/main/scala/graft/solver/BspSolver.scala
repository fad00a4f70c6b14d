package graft.solver

import graft.density.DensityGrid
import graft.geo.{MapUnits, TileRect}

import scala.collection.mutable

/** Split failure — no valid tiling under the given constraints. */
final class SplitFailedException(msg: String) extends RuntimeException(msg)

/**
 * Recursive binary-space-partition solver over a density grid: find a
 * set of axis-aligned rectangles that exactly tile the covered region
 * where every rectangle holds at most `maxNodes` points, edges align
 * to the grid resolution, and aspect ratios stay bounded.
 *
 * This is a from-scratch Scala implementation of the search semantics
 * of the reference (splitter `solver/SplittableDensityArea.java`):
 * iterative-deepening over (minNodes, maxAspectRatio) with memoized
 * dead tiles, resumable partial searches and learned good partial
 * solutions. It is a driver-side algorithm by design — the input grid
 * is the (small) aggregated density histogram, not the raw data.
 */
final class BspSolver(val grid: DensityGrid,
                      startSearchLimit: Int = BspSolver.DefaultSearchLimit) {

  import BspSolver._

  val shift: Int = grid.shift
  private val maxTileHeight = MapUnits.toMapUnit(MaxLatDegrees) / (1 << shift)
  private val maxTileWidth = MapUnits.toMapUnit(MaxLonDegrees) / (1 << shift)

  var maxNodes: Long = 1600000L
  var trimShape: Boolean = false
  /** Byte-parity mode: replicate the reference's TOP-side trim slip
    * (`Solution.java:242-243`); see [[BspSolution.trimOuterTiles]]. */
  var bugCompatTrim: Boolean = false
  var quiet: Boolean = true
  var startMapId: Int = -1
  /** Skip the max-tile-degree-size check (used by num-tiles mode). */
  private var ignoreSize = false

  private var solverGrid: SolverGrid = _
  private var searchLimit = startSearchLimit
  private var minNodes = 0L
  private var maxAspectRatio = 0.0
  private var searchAll = false
  private var allowEmptyPart = false
  private var hasEmptyPart = false
  private var countBad = 0L
  private var trimTiles = false
  /** Cumulative tiles examined by the recursive search across the
    * whole solve — the effort metric the V9 slicing is judged on. */
  var testedTiles: Long = 0L

  private var knownBad = mutable.HashSet.empty[GridTile]
  private var incomplete = mutable.LinkedHashMap.empty[GridTile, Int]
  private var goodSolutions = mutable.HashMap.empty[GridTile, BspSolution]
  private var goodRatio = 0.5

  private def log(s: => String): Unit = if (!quiet) println(s)

  /** Solve the whole grid into tile rectangles in map units. */
  def split(): List[TileRect] = splitConstrained(None)

  /** Solve, optionally constrained to a rastered bounding polygon
    * (bit x*height+y set = cell intersects the polygon). */
  def splitConstrained(polyBits: Option[java.util.BitSet]): List[TileRect] = {
    if (grid.totalCount == 0) return Nil
    solverGrid = new SolverGrid(grid, polyBits)
    trimTiles = polyBits.isDefined
    val startTile =
      if (polyBits.isDefined) GridTile.whole(solverGrid).trim()
      else GridTile.whole(solverGrid)
    val startTiles =
      if (polyBits.isDefined) List(startTile)
      else if (trimShape || grid.bounds.width >= 0x1000000)
        checkForEmptyClusters(0, startTile, AxisHor)
      else List(startTile)

    var fullSolution = new BspSolution(maxNodes)
    var done = false
    var countNoSol = 0
    while (!done) {
      countNoSol = 0
      startTiles.foreach { tile =>
        hasEmptyPart = false
        log(s"Solving partition $tile")
        val solution = solveRectangularArea(tile)
        if (solution != null && !solution.isEmpty) fullSolution.merge(solution)
        else countNoSol += 1
      }
      if (countNoSol == 0) done = true
      else if (allowEmptyPart || !hasEmptyPart) done = true
      else {
        allowEmptyPart = true
        fullSolution = new BspSolution(maxNodes)
      }
    }
    if (countNoSol > 0)
      throw new SplitFailedException("Failed to find a correct split")
    log(s"Final solution: $fullSolution")
    toRects(fullSolution)
  }

  /**
   * V9 vertex-slicing polygon solve (reference
   * `SplittableDensityArea.findSolutionWithSinglePolygon:517-578`):
   * slice the rastered rectilinear polygon at its vertices into
   * rectangular sub-problems BEFORE the BSP — at each polygon vertex
   * try a full-height cut at the vertex's x, then a full-width cut at
   * its y, recursing into the polygon-intersected halves until every
   * piece is an exact rectangle handed to [[solveRectangularArea]].
   * Concave polygons solve with far fewer terminal tests than the
   * constrained whole-raster search. Falls back to
   * [[splitConstrained]] when the rastered area is not singular, is
   * too complex, or the sliced search finds nothing.
   */
  def splitPolygonSliced(polyBits: java.util.BitSet): List[TileRect] = {
    if (grid.totalCount == 0) return Nil
    val rastered = BspSolver.bitsToArea(polyBits, grid)
    if (rastered.isEmpty) return Nil
    if (!rastered.isSingular) return splitConstrained(Some(polyBits))
    solverGrid = new SolverGrid(grid, Some(polyBits))
    trimTiles = true
    val sol = findSolutionWithSinglePolygon(0, rastered)
    if (sol == null || sol.isEmpty) {
      log("vertex-sliced search found nothing, falling back to " +
        "terminal-predicate search")
      return splitConstrained(Some(polyBits))
    }
    toRects(sol)
  }

  /** One recursion step of the vertex slicing, in CELL coordinates
    * (the rastered area's unit = one grid cell). */
  private def findSolutionWithSinglePolygon(
      depth: Int, rastered: java.awt.geom.Area): BspSolution = {
    import java.awt.Rectangle
    def solveRect(b: Rectangle): BspSolution =
      solveRectangularArea(GridTile.compute(solverGrid, b.x, b.y, b.width, b.height))
    if (rastered.isRectangular) return solveRect(rastered.getBounds)
    val shape = BspSolver.areaToShapes(rastered).head
    if (shape.size > MaxSinglePolygonVertices) {
      log(s"Warning: shape is too complex (${shape.size} vertices), " +
        "using bounding rectangle instead")
      return solveRect(rastered.getBounds)
    }
    val pBounds = rastered.getBounds
    var lastPoint = shape.size - 1
    if (shape.head == shape(lastPoint)) lastPoint -= 1
    var i = 0
    while (i <= lastPoint) {
      val point = shape(i)
      if (i == 0 || point != shape.head) {
        val cutX = point.x
        val cutY = point.y
        var part0: BspSolution = null
        var part1: BspSolution = null
        var axis = 0
        var cutFound = false
        while (axis < 2 && !cutFound) {
          var r1 =
            if (axis == 0)
              new Rectangle(pBounds.x, pBounds.y, cutX - pBounds.x, pBounds.height)
            else
              new Rectangle(pBounds.x, pBounds.y, pBounds.width, cutY - pBounds.y)
          var r2 =
            if (axis == 0)
              new Rectangle(cutX, pBounds.y, pBounds.getMaxX.toInt - cutX, pBounds.height)
            else
              new Rectangle(pBounds.x, cutY, pBounds.width, pBounds.getMaxY.toInt - cutY)
          // search the smaller half first (reference :553-557)
          if (r1.width.toLong * r1.height > r2.width.toLong * r2.height) {
            val t = r1; r1 = r2; r2 = t
          }
          if (!r1.isEmpty && !r2.isEmpty) {
            val a1 = new java.awt.geom.Area(r1)
            a1.intersect(rastered)
            part0 = findSolutionWithSinglePolygon(depth + 1, a1)
            if (part0 != null && !part0.isEmpty) {
              val a2 = new java.awt.geom.Area(r2)
              a2.intersect(rastered)
              part1 = findSolutionWithSinglePolygon(depth + 1, a2)
              // reference :563-576: the axis loop breaks only on a
              // non-empty complement, but a cut whose complement
              // solved to a non-null EMPTY solution (a data-empty
              // half, e.g. ocean inside the polygon) is still
              // ACCEPTED after the loop — merging empty is a no-op
              // and the populated half's tiles are returned
              if (part1 != null && !part1.isEmpty) cutFound = true
            }
          }
          axis += 1
        }
        if (part1 != null && part0 != null && !part0.isEmpty) {
          part0.merge(part1)
          return part0
        }
      }
      i += 1
    }
    new BspSolution(maxNodes)
  }

  /**
   * Bisection on maxNodes until the split yields exactly `wantedTiles`
   * tiles (reference `split(int):282-334`).
   */
  def splitIntoTiles(wantedTiles: Int): List[TileRect] = {
    var currMaxNodes = grid.totalCount / wantedTiles
    var bestBelow: Option[(Long, Int)] = None
    var bestAbove: Option[(Long, Int)] = None
    val wasQuiet = quiet
    quiet = true
    ignoreSize = true
    try {
      while (true) {
        maxNodes = currMaxNodes
        val res = split()
        if (res.isEmpty || res.size == wantedTiles) {
          quiet = wasQuiet
          return split()
        }
        goodSolutions = mutable.HashMap.empty
        val pair = (currMaxNodes, res.size)
        if (res.size > wantedTiles) {
          bestAbove = bestAbove match {
            case None => Some(pair)
            case Some((bm, bn)) =>
              if (bn > pair._2 || (bn == pair._2 && pair._1 < bm)) Some(pair) else bestAbove
          }
        } else {
          bestBelow = bestBelow match {
            case None => Some(pair)
            case Some((bm, bn)) =>
              if (bn < pair._2 || (bn == pair._2 && pair._1 > bm)) Some(pair) else bestBelow
          }
        }
        val testMaxNodes = (bestBelow, bestAbove) match {
          case (Some((b, _)), Some((a, _))) => (b + a) / 2
          case _ => math.min(
            math.round(currMaxNodes.toDouble * res.size / wantedTiles),
            grid.totalCount - 1)
        }
        if (testMaxNodes == currMaxNodes) {
          quiet = wasQuiet
          return res
        }
        currMaxNodes = testMaxNodes
      }
      Nil // unreachable
    } finally { quiet = wasQuiet; ignoreSize = false }
  }

  /**
   * Carve large empty bands (sea) out of the start tile so each dense
   * cluster is solved separately: scan the line sums along `axis`,
   * cut runs of empty lines longer than 30 degrees — or longer than 10
   * cells when both sides already hold > maxNodes/3 — and recurse on
   * each remaining segment along the other axis (reference
   * `checkForEmptyClusters:407-471`).
   */
  private[solver] def checkForEmptyClusters(depth: Int, tile: GridTile,
                                            axis: Int): List[GridTile] = {
    val maxEmpty = MapUnits.toMapUnit(30) / (1 << shift)
    val len = tile.len(axis)

    // collect cut intervals [firstEmpty, firstEmpty+countEmpty)
    val cuts = mutable.ArrayBuffer.empty[(Int, Int)]
    var firstEmpty = -1
    var countEmpty = 0
    var countLastPart = 0L
    var countRemaining = tile.count
    var i = 0
    while (i < len) {
      val n = tile.lineSum(axis, i)
      if (n == 0) {
        if (firstEmpty < 0) firstEmpty = i
        countEmpty += 1
      } else {
        if (countEmpty > maxEmpty ||
          (countEmpty > 10 && countLastPart > maxNodes / 3 && countRemaining > maxNodes / 3)) {
          cuts += ((firstEmpty, countEmpty))
          countLastPart = 0
        }
        countRemaining -= n
        firstEmpty = -1
        countEmpty = 0
        countLastPart += n
      }
      i += 1
    }

    if (cuts.isEmpty) {
      if (depth == 0) checkForEmptyClusters(depth + 1, tile.trim(), otherAxis(axis))
      else List(tile.trim())
    } else {
      // residual segments between cut bands
      val segments = mutable.ArrayBuffer.empty[(Int, Int)] // (start, length)
      var pos = 0
      cuts.foreach { case (s, l) =>
        if (s > pos) segments += ((pos, s - pos))
        pos = s + l
      }
      if (pos < len) segments += ((pos, len - pos))
      segments.toList.flatMap { case (s, l) =>
        val cnt = (s until s + l).iterator.map(tile.lineSum(axis, _)).sum
        if (cnt > 0)
          checkForEmptyClusters(depth + 1, tile.slice(axis, s, l, cnt).trim(), otherAxis(axis))
        else Nil
      }
    }
  }

  private def checkSize(tile: GridTile): Boolean =
    tile.height <= maxTileHeight && tile.width <= maxTileWidth

  private def checkIfGood(tile: GridTile, sol: BspSolution): Unit = {
    if (!sol.isNice || sol.tiles.size < 2) return
    if (sol.worstMinNodes > goodRatio * maxNodes) {
      val existing = goodSolutions.get(tile)
      if (existing.forall(_.worstMinNodes < sol.worstMinNodes))
        goodSolutions(tile) = sol.copy()
    }
  }

  private def filterGoodSolutions(best: BspSolution): Unit = {
    if (best == null || best.isEmpty) return
    goodSolutions = goodSolutions.filter(_._2.worstMinNodes > best.worstMinNodes)
    goodRatio = math.max(0.5, best.worstMinNodes.toDouble / maxNodes)
  }

  private def searchGoodSolutions(tile: GridTile): BspSolution =
    goodSolutions.get(tile) match {
      case Some(sol) if sol.worstMinNodes >= minNodes => sol.copy()
      case _ => null
    }

  /**
   * Iterative-deepening outer loop: run the recursive search, then
   * tighten (minNodes up, aspect ratio down) while improvements come;
   * on a dead end double the search budget, fall back to minNodes=1,
   * and finally flip the exhaustive-candidates mode off (reference
   * `solveRectangularArea:746-867`).
   */
  private[solver] def solveRectangularArea(startTile: GridTile): BspSolution = {
    if (startTile.count == 0) return new BspSolution(maxNodes)
    searchLimit = startSearchLimit
    minNodes = math.max(math.min((0.05 * maxNodes).toLong, solverGrid.totalCount), 1L)
    if (solverGrid.totalCount / maxNodes < 4) maxAspectRatio = 32
    else {
      maxAspectRatio = startTile.aspectRatio
      if (maxAspectRatio < 1) maxAspectRatio = 1 / maxAspectRatio
      if (maxAspectRatio < NiceMaxAspectRatio) maxAspectRatio = NiceMaxAspectRatio
    }
    goodSolutions = mutable.HashMap.empty
    goodRatio = 0.5
    val smiStart = new SplitMeta(startTile, null, null)
    searchAll = startTile.count < 300 * maxNodes &&
      (checkSize(startTile) || startTile.count < 10 * maxNodes)

    log(s"Trying to find nice split for $startTile")
    var bestSolution = new BspSolution(maxNodes)
    var prevBest = new BspSolution(maxNodes)
    incomplete = mutable.LinkedHashMap.empty
    resetCaches()
    var numLoops = 0
    var break = false
    while (numLoops < MaxLoops && !break) {
      numLoops += 1
      val saveMaxAspectRatio = maxAspectRatio
      val saveMinNodes = minNodes
      countBad = 0
      log(s"searching for split with min-nodes $minNodes, learned ${goodSolutions.size} good partial solutions")
      smiStart.setMinNodes(minNodes)
      val solution = findSolution(0, startTile, startTile, smiStart)
      if (solution != null) {
        if (bestSolution.compareTo(solution) > 0) {
          prevBest = bestSolution
          bestSolution = solution
          log(s"Best solution until now: $bestSolution")
          filterGoodSolutions(bestSolution)
          var factor = 1.10
          if (!prevBest.isEmpty && prevBest.isNice)
            factor = math.min(1.30, bestSolution.worstMinNodes.toDouble / prevBest.worstMinNodes)
          minNodes = math.max(maxNodes / 3, (bestSolution.worstMinNodes * factor).toLong)
        }
        if (bestSolution.size == 1) {
          log("This can't be improved.")
          break = true
        }
      } else if (!bestSolution.isEmpty && minNodes > bestSolution.worstMinNodes + 1) {
        minNodes = (bestSolution.worstMinNodes + minNodes) / 2
        if (minNodes < bestSolution.worstMinNodes * 1.001)
          minNodes = bestSolution.worstMinNodes + 1
      }
      if (!break) {
        maxAspectRatio = math.max(bestSolution.worstAspectRatio / 2, NiceMaxAspectRatio)
        maxAspectRatio = math.min(32, maxAspectRatio)
        if (!bestSolution.isEmpty && bestSolution.worstMinNodes > VeryNiceFillRatio * maxNodes)
          break = true
      }
      if (!break) {
        if (minNodes > VeryNiceFillRatio * maxNodes)
          minNodes = (VeryNiceFillRatio * maxNodes).toLong
        if (saveMaxAspectRatio == maxAspectRatio && saveMinNodes == minNodes) {
          var continueLoop = false
          if (bestSolution.isEmpty || bestSolution.worstMinNodes < 0.5 * maxNodes) {
            if (countBad > searchLimit && searchLimit < 5000000) {
              searchLimit *= 2
              resetCaches()
              log(s"No good solution found, duplicated search-limit to $searchLimit")
              continueLoop = true
            } else if (bestSolution.isEmpty && minNodes > 1) {
              minNodes = 1
              resetCaches()
              searchLimit = startSearchLimit
              log("No good solution found, trying to find one accepting anything")
              continueLoop = true
            } else if (searchAll) {
              searchAll = false
              minNodes =
                if (!bestSolution.isEmpty) bestSolution.worstMinNodes + 1
                else maxNodes / 100
              log("Still no good solution found, trying alternate algorithm")
              continueLoop = true
            }
          }
          if (!continueLoop) break = true
        }
      }
    }
    bestSolution
  }

  private def resetCaches(): Unit = {
    knownBad = mutable.HashSet.empty
  }

  /**
   * Depth-first recursive BSP: terminal checks, then try split
   * positions on the preferred axis (then the other), recursing into
   * the less-populated half first; memoize dead tiles and abort paths
   * when the failure budget runs out (reference
   * `findSolution:586-733`).
   */
  private def findSolution(depth: Int, tile: GridTile, parent: GridTile,
                           smiParent: SplitMeta): BspSolution = {
    testedTiles += 1
    var addAndReturn = false
    if (tile.count == 0) {
      if (!allowEmptyPart) { hasEmptyPart = true; return null }
      if (tile.width * tile.height <= 4) return null
      return new BspSolution(maxNodes) // accepted empty part of the world
    } else if (tile.count > maxNodes && tile.width == 1 && tile.height == 1) {
      addAndReturn = true // grid-resolution floor: can't split a single cell
    } else if (tile.count < minNodes && depth == 0) {
      addAndReturn = true
    } else if (tile.count < minNodes) {
      return null
    } else if (tile.count <= maxNodes) {
      var ratio = tile.aspectRatio
      if (ratio < 1.0) ratio = 1.0 / ratio
      if (ratio < maxAspectRatio &&
        (ignoreSize || maxNodes >= LargeMaxNodes || checkSize(tile)))
        addAndReturn = true
    } else if (tile.width < 2 && tile.height < 2) {
      return null
    }
    if (tile.outsidePolygon) return new BspSolution(maxNodes)
    if (addAndReturn) {
      if (tile.outsidePolygonRatio > MaxOutsidePolygonRatio) return null
      val solution = new BspSolution(maxNodes)
      solution.add(tile)
      return solution
    }
    if (tile.count < minNodes * 2) return null
    val cached = searchGoodSolutions(tile)
    if (cached != null) return cached

    // resume bookkeeping: skip the splits a previous aborted search did
    var alreadyDone: Option[Int] = None
    if (countBad == 0 && incomplete.nonEmpty) {
      alreadyDone = incomplete.remove(tile)
      if (alreadyDone.isEmpty) incomplete.clear() // rest is unusable
    }
    if (alreadyDone.isEmpty && depth > 0 && tile.width * tile.height > 100
      && knownBad.contains(tile)) return null

    val smi = new SplitMeta(tile, parent, smiParent)
    var axis = if (tile.aspectRatio >= 1.0) AxisHor else AxisVert
    var todo = generateTestCases(axis, tile, smi)
    var countAxis = 0
    var usedTestPos = 0
    var countDone = 0
    var bestSol: BspSolution = null
    var break = false
    while (!break) {
      if (usedTestPos >= todo.length) {
        countAxis += 1
        if (countAxis > 1) break = true
        else {
          axis = otherAxis(axis)
          todo = generateTestCases(axis, tile, smi)
          usedTestPos = 0
        }
      } else {
        countDone += 1
        // resume offset burns iterations without consuming positions,
        // matching the reference's loop bookkeeping exactly
        val skip = alreadyDone.exists(countDone <= _)
        if (!skip) {
          val splitPos = todo(usedTestPos)
          usedTestPos += 1
          if (tile.split(axis, splitPos, smi)) {
            var part0 = smi.part0
            var part1 = smi.part1
            if (trimTiles) { part0 = part0.trim(); part1 = part1.trim() }
            if (part0.count > part1.count) {
              val h = part0; part0 = part1; part1 = h
            }
            // depth-first, less populated part first
            val sol0 = findSolution(depth + 1, part0, tile, smi)
            var countOK = 0
            var sol1: BspSolution = null
            if (sol0 == null) countBad += 1
            else {
              checkIfGood(part0, sol0)
              countOK += 1
              sol1 = findSolution(depth + 1, part1, tile, smi)
              if (sol1 == null) countBad += 1
              else { checkIfGood(part1, sol1); countOK += 1 }
            }
            if (countOK == 2) {
              sol0.merge(sol1)
              bestSol = sol0
              break = true
            } else if (countBad >= searchLimit) {
              incomplete.put(tile, countDone - 1)
              break = true
            }
          }
        }
      }
    }
    smi.propagateToParent(smiParent, tile, parent)
    if (bestSol == null && countBad < searchLimit && depth > 0
      && tile.width * tile.height > 100)
      knownBad.add(tile)
    bestSol
  }

  /**
   * Candidate split positions for one axis — few for huge tiles, a
   * stride for mid-size, exhaustive near multiples of maxNodes, and
   * the weighted middle for the final splits (reference
   * `generateTestCases:952-1019`).
   */
  private[solver] def generateTestCases(axis: Int, tile: GridTile,
                                        smi: SplitMeta): Array[Int] = {
    if (searchAll) return tile.genTests(axis, smi)
    val ratio = tile.aspectRatio
    if (ratio < 1.0 / 32 || ratio > 32 ||
      (ratio < 1.0 / 16 && axis == AxisHor) || (ratio > 16 && axis == AxisVert))
      return Array.emptyIntArray
    val start = tile.findValidStart(axis, smi)
    val end = tile.findValidEnd(axis, smi)
    val range = end - start
    if (range < 0) return Array.emptyIntArray
    val tests = mutable.ArrayBuffer.empty[Int]
    // both axes compare against maxTileWidth, as the reference's
    // generateTestCases does; maxTileHeight here would change which
    // huge tiles take the coarse fractions
    if (range > 1024 && tile.len(axis) >= maxTileWidth) {
      var i = 5
      while (i > 1) { tests += start + range / i; i -= 1 }
    } else if (tile.count < maxNodes * 4 && range > 256) {
      val step = range / 20
      var pos = start
      while (pos <= end) { tests += pos; pos += step }
    } else if (tile.count > maxNodes * 4) {
      val step = math.max(range / 7, 1)
      var pos = start
      while (pos <= end) { tests += pos; pos += step }
    } else {
      var nMax = tile.count / minNodes
      if (nMax * minNodes < tile.count) nMax += 1
      var nMin = tile.count / maxNodes
      if (nMin * maxNodes < tile.count) nMin += 1
      if (nMin > 2 && nMin * maxNodes - minNodes < tile.count && ratio > 0.125 && ratio < 8) {
        return tile.genTests(axis, smi)
      }
      if (nMax == 2 || nMin == 2) {
        tests += tile.findMiddle(axis, smi)
        var pos = tile.findFirstHigher(axis, smi, minNodes) + 1
        if (tests(0) != pos) tests += pos
        pos = tile.findFirstHigher(axis, smi, maxNodes)
        if (!tests.contains(pos)) tests += pos
      } else if (range == 0) {
        tests += start
      } else {
        if (nMax != 3) tests += tile.findMiddle(axis, smi)
        if (!tests.contains(start)) tests += start
        if (!tests.contains(end)) tests += end
      }
    }
    tests.toArray
  }

  /** Solution tiles -> aligned map-unit rectangles (reference
    * `getAreas:893-941`). */
  private def toRects(sol: BspSolution): List[TileRect] = {
    if (trimShape && !solverGrid.hasPolygon) sol.trimOuterTiles(bugCompatTrim)
    val minLat = grid.bounds.minLat
    val minLon = grid.bounds.minLon
    sol.tiles.toList.filter(_.count > 0).map { tile =>
      if (!tile.verifyCount)
        throw new SplitFailedException(s"found invalid tile $tile")
      TileRect(
        minLat + (tile.y << shift), minLon + (tile.x << shift),
        minLat + ((tile.y + tile.height) << shift),
        minLon + ((tile.x + tile.width) << shift))
    }
  }
}

object BspSolver {
  final val MaxLatDegrees = 85
  final val MaxLonDegrees = 90
  final val MaxLoops = 100
  /** Split axes: AxisHor searches columns (x), AxisVert rows (y). */
  final val AxisHor = 0
  final val AxisVert = 1
  def otherAxis(axis: Int): Int = 1 - axis
  final val NiceMaxAspectRatio = 4.0
  final val VeryNiceFillRatio = 0.93
  final val LargeMaxNodes = 10000000L
  final val MaxOutsidePolygonRatio = 0.5
  final val DefaultSearchLimit = 200000

  /** Reference `SplittableDensityArea.MAX_SINGLE_POLYGON_VERTICES`. */
  final val MaxSinglePolygonVertices = 40

  /** Rectilinear awt Area (CELL coordinates, unit = one grid cell)
    * of a polygon raster bitset (bit x*height+y). Column y-runs are
    * added as single rectangles so Area unions stay near-linear in
    * the number of runs, not cells. */
  private[solver] def bitsToArea(bits: java.util.BitSet,
                                 grid: DensityGrid): java.awt.geom.Area = {
    val area = new java.awt.geom.Area()
    var x = 0
    while (x < grid.width) {
      var y = 0
      while (y < grid.height) {
        if (bits.get(x * grid.height + y)) {
          var y2 = y
          while (y2 < grid.height && bits.get(x * grid.height + y2)) y2 += 1
          area.add(new java.awt.geom.Area(
            new java.awt.Rectangle(x, y, 1, y2 - y)))
          y = y2
        } else y += 1
      }
      x += 1
    }
    area
  }

  /** Vertex rings of a rectilinear awt Area (the analog of the
    * reference `Utils.areaToShapes`); coordinates are integral by
    * construction of [[bitsToArea]]. */
  private[solver] def areaToShapes(
      area: java.awt.geom.Area): List[Vector[java.awt.Point]] = {
    import java.awt.geom.PathIterator._
    val res = List.newBuilder[Vector[java.awt.Point]]
    val coords = new Array[Double](6)
    var cur = Vector.empty[java.awt.Point]
    val it = area.getPathIterator(null)
    while (!it.isDone) {
      it.currentSegment(coords) match {
        case SEG_MOVETO =>
          if (cur.nonEmpty) res += cur
          cur = Vector(new java.awt.Point(coords(0).round.toInt, coords(1).round.toInt))
        case SEG_LINETO =>
          cur = cur :+ new java.awt.Point(coords(0).round.toInt, coords(1).round.toInt)
        case SEG_CLOSE =>
          if (cur.nonEmpty) res += cur
          cur = Vector.empty
        case _ => () // rastered rectilinear areas produce no curves
      }
      it.next()
    }
    if (cur.nonEmpty) res += cur
    res.result()
  }
}
