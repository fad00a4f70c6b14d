package graft.solver

import graft.solver.BspSolver.{AxisHor, AxisVert}

import scala.collection.mutable.ArrayBuffer

/**
 * A set of tiles covering one solve partition plus the two quality
 * metrics the search optimizes: the worst (largest, normalized >= 1)
 * aspect ratio and the worst (smallest) per-tile count (reference
 * `solver/Solution.java:25-287`).
 */
final class BspSolution(val maxNodes: Long) {
  private val tileBuf = new ArrayBuffer[GridTile]()
  private var worstAR: Double = -1
  private var worstMin: Long = Long.MaxValue

  def tiles: Seq[GridTile] = tileBuf.toSeq
  def isEmpty: Boolean = tileBuf.isEmpty
  def size: Int = tileBuf.length
  def worstAspectRatio: Double = worstAR
  def worstMinNodes: Long = worstMin

  def add(tile: GridTile): Unit = {
    tileBuf += tile
    var ar = tile.aspectRatio
    if (ar < 1.0) ar = 1.0 / ar
    worstAR = math.max(ar, worstAR)
    worstMin = math.min(tile.count, worstMin)
  }

  def merge(other: BspSolution): Unit = {
    if (other.tileBuf.isEmpty) return
    if (tileBuf.isEmpty) {
      worstAR = other.worstAR
      worstMin = other.worstMin
    } else {
      worstAR = math.max(worstAR, other.worstAR)
      worstMin = math.min(worstMin, other.worstMin)
    }
    tileBuf ++= other.tileBuf
  }

  def copy(): BspSolution = {
    val s = new BspSolution(maxNodes)
    tileBuf.foreach(s.add)
    s
  }

  /** "Nice": bounded aspect ratios and every tile at least 1/3 full
    * (reference `Solution.isNice:267-277`). */
  def isNice: Boolean = {
    if (isEmpty) false
    else if (worstAR > BspSolver.NiceMaxAspectRatio) false
    else if (tileBuf.length == 1) true
    else worstMin >= maxNodes / 3
  }

  /**
   * Better-than comparison, exact tie-break order of the reference
   * (`Solution.compareTo:103-132`): emptiness, niceness, worstMinNodes
   * (ignored when both tiny), near-equal-size + very-different-AR
   * special case, tile count, worst AR.
   * @return negative if this is better than `other`.
   */
  def compareTo(other: BspSolution): Int = {
    if (other == null) return -1
    if (other eq this) return 0
    if (isEmpty != other.isEmpty) return if (isEmpty) 1 else -1
    if (isNice != other.isNice) return if (isNice) -1 else 1
    if (worstMin != other.worstMin && math.max(worstMin, other.worstMin) > 1000)
      return if (worstMin > other.worstMin) -1 else 1
    val tileRatio = tileBuf.length.toDouble / other.tileBuf.length
    val arRatio = worstAR / other.worstAR
    if (tileRatio < 1 && tileRatio > 0.99 && arRatio > 1.5) return 1
    if (tileRatio < 1.01 && tileRatio > 1 && arRatio < 0.66666) return -1
    if (tileBuf.length != other.tileBuf.length)
      return if (tileBuf.length < other.tileBuf.length) -1 else 1
    if (worstAR != other.worstAR) return if (worstAR < other.worstAR) -1 else 1
    0
  }

  /**
   * Shrink the outermost tiles toward the data so the final rectangles
   * carry no empty border, without opening holes between tiles: on
   * each side, tiles on the current extreme edge are trimmed toward a
   * running bound so inner neighbours never get exposed (reference
   * `Solution.trimOuterTiles:137-258`).
   *
   * @param bugCompat replicate the reference's TOP-side slip for
   *   byte-parity with real splitter goldens: the reference updates
   *   the TOP running bound under `if (candidate.getMaxX() >
   *   trimToPos)` where every other side compares the trimmed axis
   *   (`Solution.java:242-243` — maxX where it means maxY). Off by
   *   default: the intended semantics (compare maxY) never expose an
   *   inner neighbour, the quirk can.
   */
  def trimOuterTiles(bugCompat: Boolean = false): Unit = {
    if (tileBuf.isEmpty) return
    // mutable boxes; counts are unchanged because only empty rows/cols go
    final class Box(val t: GridTile) {
      val lo: Array[Int] = Array(t.x, t.y)
      val len: Array[Int] = Array(t.width, t.height)
      def hi(axis: Int): Int = lo(axis) + len(axis)
      def view: GridTile =
        new GridTile(t.g, lo(AxisHor), lo(AxisVert), len(AxisHor), len(AxisVert), t.count)
    }
    val boxes = tileBuf.map(new Box(_))
    var trimmedAny = true
    while (trimmedAny) {
      trimmedAny = false
      val minLo = Array(AxisHor, AxisVert).map(axis => boxes.map(_.lo(axis)).min)
      val maxHi = Array(AxisHor, AxisVert).map(axis => boxes.map(_.hi(axis)).max)
      // sides left, right, bottom, top (low and high end of each axis),
      // each scanned in both directions
      for (axis <- Seq(AxisHor, AxisVert); high <- Seq(false, true); direction <- Seq(-1, 1)) {
        val across = BspSolver.otherAxis(axis)
        var bound = if (high) -1 else Int.MaxValue
        var go = true
        while (go) {
          // pick the extreme tile on this side, ordered by direction
          var cand: Box = null
          boxes.foreach { b =>
            if (b.t.count != 0 &&
              (if (high) b.hi(axis) == maxHi(axis) else b.lo(axis) == minLo(axis))) {
              if (cand == null) cand = b
              else if (direction < 0 && cand.lo(across) > b.lo(across)) cand = b
              else if (direction > 0 && cand.hi(across) < b.hi(across)) cand = b
            }
          }
          if (cand == null) go = false
          else {
            val before = (cand.lo(axis), cand.len(axis))
            if (high) {
              while (cand.hi(axis) > bound && cand.view.lineSum(axis, cand.len(axis) - 1) == 0)
                cand.len(axis) -= 1
              // the bugCompat slip: the top side tests maxX
              val tested = if (bugCompat && axis == AxisVert) cand.hi(AxisHor) else cand.hi(axis)
              if (tested > bound) bound = cand.hi(axis)
            } else {
              while (cand.lo(axis) < bound && cand.view.lineSum(axis, 0) == 0) {
                cand.lo(axis) += 1; cand.len(axis) -= 1
              }
              if (cand.lo(axis) < bound) bound = cand.lo(axis)
            }
            if (before == ((cand.lo(axis), cand.len(axis)))) go = false
            else trimmedAny = true
          }
        }
      }
    }
    val trimmed = boxes.map(_.view)
    tileBuf.clear()
    worstAR = -1
    worstMin = Long.MaxValue
    trimmed.foreach(t => if (t.width > 0 && t.height > 0) add(t))
  }

  override def toString: String =
    if (isEmpty) "empty solution"
    else s"${tileBuf.length} tile(s), worst min nodes $worstMin " +
      s"(${100 * worstMin / maxNodes}%), worst aspect ratio ${math.round(worstAR * 100) / 100.0}"
}
