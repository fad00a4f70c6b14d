package graft.solver

import graft.solver.BspSolver.{AxisHor, AxisVert}

/**
 * A rectangular view (in grid-cell coordinates) over a [[SolverGrid]]
 * with a cached point count and the prefix-sum helpers the BSP search
 * needs (reference `solver/Tile.java:33-636`).
 *
 * Equality/hashing intentionally ignore the grid reference: the solver
 * memoizes on the rectangle alone (reference `Tile.hashCode:612-615`).
 */
final class GridTile(val g: SolverGrid, val x: Int, val y: Int,
                     val width: Int, val height: Int, val count: Long) {

  /** Extent along `axis`: the width for [[BspSolver.AxisHor]]
    * (columns), the height for [[BspSolver.AxisVert]] (rows). */
  def len(axis: Int): Int = if (axis == AxisHor) width else height

  /** Grid coordinate of the tile's first line along `axis`. */
  def origin(axis: Int): Int = if (axis == AxisHor) x else y

  /** Sum of the counts in tile-relative line `i` along `axis` (column
    * `i` for AxisHor, row `i` for AxisVert) — O(1) via the grid's
    * prefix sums. */
  def lineSum(axis: Int, i: Int): Long =
    if (axis == AxisHor) g.colRangeSum(x + i, y, y + height)
    else g.rowRangeSum(y + i, x, x + width)

  /** Lines [start, start + n) along `axis` over the full extent of the
    * other axis, holding `cnt` points. */
  def slice(axis: Int, start: Int, n: Int, cnt: Long): GridTile =
    if (axis == AxisHor) new GridTile(g, x + start, y, n, height, cnt)
    else new GridTile(g, x, y + start, width, n, cnt)

  def recount(): Long = {
    var sum = 0L
    var r = 0
    while (r < height) { sum += lineSum(AxisVert, r); r += 1 }
    sum
  }

  def verifyCount: Boolean = count == recount()

  def aspectRatio: Double = g.aspectRatio(x, y, width, height)

  // ---- split-position search helpers ------------------------------------
  // Each takes the axis it searches along; positions are tile-relative
  // line indices and the landmarks they find are cached in `m` per axis.

  /** Line index where the prefix sum first crosses count/2, snapped
    * to the nearer side (reference `Tile.findHorizontalMiddle:196-225`,
    * `findVerticalMiddle`). */
  def findMiddle(axis: Int, m: SplitMeta): Int = {
    val n = len(axis)
    if (count == 0 || n < 2) m.setMidPos(axis, 0)
    else if (m.midPos(axis) < 0) {
      val target = count / 2
      var sum = 0L
      var lastSum = 0L
      var pos = math.max(m.firstNonZero(axis), 0)
      var done = false
      while (!done && pos <= n) {
        lastSum = sum
        sum += lineSum(axis, pos)
        if (sum != 0) {
          if (lastSum <= 0) m.setFirstNonZero(axis, pos)
          if (sum > target) {
            if (sum - target < target - lastSum && pos + 1 < n) m.setMidPos(axis, pos + 1)
            else m.setMidPos(axis, pos)
            done = true
          }
        }
        pos += 1
      }
    }
    m.midPos(axis)
  }

  /** Smallest split position leaving >= minNodes before it (reference
    * `Tile.findValidStartX:334-353`, `findValidStartY`). Returns
    * `len(axis)` when none exists. */
  def findValidStart(axis: Int, m: SplitMeta): Int = {
    if (m.validStart(axis) >= 0) return m.validStart(axis)
    val n = len(axis)
    var sum = 0L
    var i = math.max(m.firstNonZero(axis), 0)
    while (i < n) {
      sum += lineSum(axis, i)
      if (sum != 0) {
        if (m.firstNonZero(axis) < 0) m.setFirstNonZero(axis, i)
        if (sum >= m.minNodes) { m.setValidStart(axis, i + 1); return i + 1 }
      }
      i += 1
    }
    m.setValidStart(axis, n)
    n
  }

  /** Largest split position leaving >= minNodes from it on. */
  def findValidEnd(axis: Int, m: SplitMeta): Int = {
    if (m.validEnd(axis) < 0) {
      var i = if (m.lastNonZero(axis) > 0) m.lastNonZero(axis) else len(axis) - 1
      var sum = 0L
      var done = false
      while (!done && i >= 0) {
        sum += lineSum(axis, i)
        if (sum > 0 && m.lastNonZero(axis) < 0) m.setLastNonZero(axis, i)
        if (sum >= m.minNodes) { m.setValidEnd(axis, i); done = true }
        i -= 1
      }
    }
    m.validEnd(axis)
  }

  /** First line where the prefix sum exceeds `limit`; `len(axis)` if
    * never. */
  def findFirstHigher(axis: Int, m: SplitMeta, limit: Long): Int = {
    val n = len(axis)
    var sum = 0L
    var i = math.max(m.firstNonZero(axis), 0)
    while (i < n) {
      sum += lineSum(axis, i)
      if (sum != 0) {
        if (m.firstNonZero(axis) < 0) m.setFirstNonZero(axis, i)
        if (sum > limit) return i
      }
      i += 1
    }
    n
  }

  // ---- splitting ---------------------------------------------------------

  /** Split before line `pos` along `axis` (left/right for AxisHor,
    * bottom/top for AxisVert); fills m.part0/part1 and returns false
    * when either part would fall below minNodes (reference
    * `Tile.splitHoriz:268-293`, `splitVert`). Sums the smaller side. */
  def split(axis: Int, pos: Int, m: SplitMeta): Boolean = {
    val n = len(axis)
    if (pos <= 0 || pos >= n) return false
    var sum = 0L
    if (pos <= n / 2) {
      var i = math.max(m.firstNonZero(axis), 0)
      while (i < pos) { sum += lineSum(axis, i); i += 1 }
    } else {
      val end = if (m.lastNonZero(axis) > 0) m.lastNonZero(axis) + 1 else n
      var i = pos
      while (i < end) { sum += lineSum(axis, i); i += 1 }
      sum = count - sum
    }
    if (sum < m.minNodes || count - sum < m.minNodes) return false
    m.part0 = slice(axis, 0, pos, sum)
    m.part1 = slice(axis, pos, n - pos, count - sum)
    true
  }

  /** Middle-out candidate list over [start, end] (reference
    * `Tile.genTests:108-127`): mid, mid+1, mid-1, mid+2, ... */
  def candidatePositions(start: Int, end: Int): Array[Int] = {
    if (end - start < 0) return Array.emptyIntArray
    val mid = (start + end) / 2
    val out = new Array[Int](end - start + 1)
    var n = 0
    var i = 0
    while (i <= mid && n < out.length) {
      var pos = mid + i
      if (pos >= start && pos <= end) { out(n) = pos; n += 1 }
      if (n < out.length && i != 0) {
        pos = mid - i
        if (pos >= start && pos <= end) { out(n) = pos; n += 1 }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  def genTests(axis: Int, m: SplitMeta): Array[Int] =
    candidatePositions(findValidStart(axis, m), findValidEnd(axis, m))

  // ---- trim / polygon ----------------------------------------------------

  private def lineNeeded(axis: Int, i: Int): Boolean =
    if (!g.hasPolygon) lineSum(axis, i) > 0
    else if (axis == AxisHor) anyInPolygon(x + i, y, 1, height)
    else anyInPolygon(x, y + i, width, 1)

  /** True when some cell of the rectangle is inside the polygon — O(1)
    * via the polygon prefix counts when available. */
  private def anyInPolygon(cx: Int, cy: Int, w: Int, h: Int): Boolean = {
    val n = g.polyInsideCount(cx, cy, cx + w, cy + h)
    if (n >= 0) return n > 0
    var i = 0
    while (i < w) {
      var j = 0
      while (j < h) {
        if (g.inPolygon(cx + i, cy + j)) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** Shrink away empty (or fully-outside-polygon) border rows/columns;
    * returns a new tile (reference `Tile.trim:473-537`). */
  def trim(): GridTile = {
    var lo = 0
    while (lo < width && !lineNeeded(AxisHor, lo)) lo += 1
    var hi = width - 1
    while (hi >= lo && !lineNeeded(AxisHor, hi)) hi -= 1
    var bo = 0
    while (bo < height && !lineNeeded(AxisVert, bo)) bo += 1
    var to = height - 1
    while (to >= bo && !lineNeeded(AxisVert, to)) to -= 1
    if (lo > hi || bo > to) return new GridTile(g, x, y, 0, 0, 0)
    val nw = hi - lo + 1
    val nh = to - bo + 1
    if (nw == width && nh == height) this
    else if (!g.hasPolygon) new GridTile(g, x + lo, y + bo, nw, nh, count)
    else GridTile.compute(g, x + lo, y + bo, nw, nh)
  }

  /** True when no cell of the tile is inside the polygon. */
  def outsidePolygon: Boolean = g.hasPolygon && !anyInPolygon(x, y, width, height)

  /** Fraction of grid cells outside the bounding polygon (0 when no
    * polygon; reference `Tile.calcOutsidePolygonRatio:582-602`) —
    * O(1) via the prefix rectangle count when available. */
  def outsidePolygonRatio: Double = {
    if (!g.hasPolygon) return 0.0
    val in = g.polyInsideCount(x, y, x + width, y + height)
    if (in >= 0)
      return (width.toLong * height - in).toDouble / (width.toLong * height)
    var outside = 0
    var cx = 0
    while (cx < width) {
      var cy = 0
      while (cy < height) {
        if (!g.inPolygon(x + cx, y + cy)) outside += 1
        cy += 1
      }
      cx += 1
    }
    outside.toDouble / (width.toLong * height)
  }

  override def equals(o: Any): Boolean = o match {
    case t: GridTile => t.x == x && t.y == y && t.width == width && t.height == height
    case _ => false
  }
  override def hashCode: Int = x << 24 | y << 16 | width << 8 | height
  override def toString: String =
    s"GridTile($x,$y,${width}x$height,n=$count)"
}

object GridTile {
  /** Tile over the whole grid. */
  def whole(g: SolverGrid): GridTile =
    new GridTile(g, 0, 0, g.width, g.height, g.totalCount)

  /** Tile with the count computed by scanning. */
  def compute(g: SolverGrid, x: Int, y: Int, w: Int, h: Int): GridTile = {
    require(x >= 0 && y >= 0 && x + w <= g.width && y + h <= g.height,
      s"tile ($x,$y,$w,$h) outside grid ${g.width}x${g.height}")
    val t = new GridTile(g, x, y, w, h, 0)
    new GridTile(g, x, y, w, h, t.recount())
  }
}

/**
 * Mutable per-tile search state: split landmarks inherited
 * parent-to-child when an axis is shared so repeated scans are
 * avoided (reference `solver/TileMetaInfo.java:23-302`). The
 * reference also carries memoized row/column sum ARRAYS here; with
 * the [[SolverGrid]] prefix sums every row/column sum is already
 * O(1), so only the scalar landmarks remain — the values each
 * landmark takes are identical (they are exact functions of the tile
 * and minNodes), so the search is unchanged.
 *
 * Each landmark is a tile-relative line index (-1 = not yet known),
 * kept once per axis in plain fields read and written by axis: one
 * SplitMeta is built per searched tile, and per-axis holder objects
 * measurably slowed the search while the JIT warms up.
 */
final class SplitMeta(tile: GridTile, parent: GridTile, parentMeta: SplitMeta) {
  var minNodes: Long = if (parentMeta != null) parentMeta.minNodes else 0L
  var part0: GridTile = _
  var part1: GridTile = _
  private var validStartX, validStartY = -1
  private var validEndX, validEndY = -1
  private var firstNonZeroX, firstNonZeroY = -1
  private var lastNonZeroX, lastNonZeroY = -1
  private var midPosX, midPosY = -1

  def validStart(axis: Int): Int = if (axis == AxisHor) validStartX else validStartY
  def setValidStart(axis: Int, v: Int): Unit =
    if (axis == AxisHor) validStartX = v else validStartY = v
  def validEnd(axis: Int): Int = if (axis == AxisHor) validEndX else validEndY
  def setValidEnd(axis: Int, v: Int): Unit =
    if (axis == AxisHor) validEndX = v else validEndY = v
  def firstNonZero(axis: Int): Int = if (axis == AxisHor) firstNonZeroX else firstNonZeroY
  def setFirstNonZero(axis: Int, v: Int): Unit =
    if (axis == AxisHor) firstNonZeroX = v else firstNonZeroY = v
  def lastNonZero(axis: Int): Int = if (axis == AxisHor) lastNonZeroX else lastNonZeroY
  def setLastNonZero(axis: Int, v: Int): Unit =
    if (axis == AxisHor) lastNonZeroX = v else lastNonZeroY = v
  def midPos(axis: Int): Int = if (axis == AxisHor) midPosX else midPosY
  def setMidPos(axis: Int, v: Int): Unit = if (axis == AxisHor) midPosX = v else midPosY = v

  locally {
    // a child spanning the parent's whole extent across `axis` and
    // starting where the parent starts along it has the same first
    // non-empty line
    var axis = AxisHor
    while (parent != null && axis <= AxisVert) {
      val across = BspSolver.otherAxis(axis)
      if (parent.len(across) == tile.len(across) && tile.origin(axis) == parent.origin(axis))
        setFirstNonZero(axis, parentMeta.firstNonZero(axis))
      axis += 1
    }
  }

  def setMinNodes(n: Long): Unit = {
    if (n != minNodes) {
      minNodes = n
      validStartX = -1; validStartY = -1; validEndX = -1; validEndY = -1
    }
  }

  /** Push refreshed landmarks back up so the sibling benefits
    * (reference `TileMetaInfo.propagateToParent:203-244`). */
  def propagateToParent(parentMeta: SplitMeta, tile: GridTile, parent: GridTile): Unit = {
    propagate(AxisVert, parentMeta, tile, parent)
    propagate(AxisHor, parentMeta, tile, parent)
  }

  /** The landmarks along `axis`, when the child spans the parent's
    * whole extent across it: the first part's start landmarks are the
    * parent's, the second part's end landmarks shift by its offset. */
  private def propagate(axis: Int, parentMeta: SplitMeta,
                        tile: GridTile, parent: GridTile): Unit = {
    val across = BspSolver.otherAxis(axis)
    if (parent.len(across) == tile.len(across)) {
      val off = tile.origin(axis) - parent.origin(axis)
      if (off == 0) {
        if (parentMeta.firstNonZero(axis) < 0 && firstNonZero(axis) >= 0)
          parentMeta.setFirstNonZero(axis, firstNonZero(axis))
        if (parentMeta.validStart(axis) < 0 && validStart(axis) >= 0)
          parentMeta.setValidStart(axis, validStart(axis))
      } else {
        if (parentMeta.lastNonZero(axis) < 0 && lastNonZero(axis) >= 0)
          parentMeta.setLastNonZero(axis, off + lastNonZero(axis))
        if (parentMeta.validEnd(axis) < 0 && validEnd(axis) >= 0)
          parentMeta.setValidEnd(axis, off + validEnd(axis))
      }
    }
  }
}
