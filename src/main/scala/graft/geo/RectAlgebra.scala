package graft.geo

import scala.collection.mutable

/**
 * Driver-side rectangle set algebra for user-supplied (possibly
 * overlapping) areas:
 *
 *  - [[nonOverlapping]] — decompose a rect set into disjoint rects
 *    covering the same union, so "element spans > 1 distinct area" is
 *    well-defined (reference `ProblemLists.getNonOverlappingAreas:335-482`);
 *  - [[pseudoAreas]] — fill the complement of the union within an
 *    outer bbox with rects, so the point->tile join is total
 *    (reference `ProblemLists.addPseudoAreas:275-590`).
 *
 * Both use a coordinate-compressed occupancy grid with greedy
 * horizontal-run / vertical-block merging: at most (2n)^2 cells for
 * n input rects, exact, and independent of map resolution.
 */
object RectAlgebra {

  /** Coordinate-compressed disjoint cover of the union of `rects`. */
  def nonOverlapping(rects: Seq[TileRect]): Seq[TileRect] = {
    if (rects.isEmpty) return Nil
    if (rects.size == 1) return rects
    gridMerge(rects, covered = true, outer = None)
  }

  /** Disjoint rects covering `outer` minus the union of `rects`. */
  def pseudoAreas(rects: Seq[TileRect], outer: TileRect = TileRect.Planet): Seq[TileRect] =
    gridMerge(rects, covered = false, outer = Some(outer))

  private def gridMerge(rects: Seq[TileRect], covered: Boolean,
                        outer: Option[TileRect]): Seq[TileRect] = {
    val clipped = outer match {
      case None => rects
      case Some(o) => rects.flatMap(_.intersection(o))
    }
    val lats = mutable.SortedSet.empty[Int]
    val lons = mutable.SortedSet.empty[Int]
    clipped.foreach { r =>
      lats += r.minLat; lats += r.maxLat
      lons += r.minLon; lons += r.maxLon
    }
    outer.foreach { o =>
      lats += o.minLat; lats += o.maxLat
      lons += o.minLon; lons += o.maxLon
    }
    val ys = lats.toArray
    val xs = lons.toArray
    if (ys.length < 2 || xs.length < 2) {
      return if (covered) Nil else outer.toSeq
    }
    val h = ys.length - 1
    val w = xs.length - 1
    // occupancy of each compressed cell
    val occ = Array.ofDim[Boolean](h, w)
    clipped.foreach { r =>
      val y0 = java.util.Arrays.binarySearch(ys, r.minLat)
      val y1 = java.util.Arrays.binarySearch(ys, r.maxLat)
      val x0 = java.util.Arrays.binarySearch(xs, r.minLon)
      val x1 = java.util.Arrays.binarySearch(xs, r.maxLon)
      var yi = y0
      while (yi < y1) {
        var xi = x0
        while (xi < x1) { occ(yi)(xi) = true; xi += 1 }
        yi += 1
      }
    }
    val want: (Int, Int) => Boolean =
      if (covered) (y, x) => occ(y)(x) else (y, x) => !occ(y)(x)
    // greedy maximal-rect merge: grow a run rightwards on one row,
    // then extend the full run downwards while possible
    val used = Array.ofDim[Boolean](h, w)
    val out = mutable.ArrayBuffer.empty[TileRect]
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (want(y, x) && !used(y)(x)) {
          var x1 = x
          while (x1 + 1 < w && want(y, x1 + 1) && !used(y)(x1 + 1)) x1 += 1
          var y1 = y
          var extend = true
          while (extend && y1 + 1 < h) {
            var ok = true
            var xi = x
            while (ok && xi <= x1) {
              ok = want(y1 + 1, xi) && !used(y1 + 1)(xi)
              xi += 1
            }
            if (ok) y1 += 1 else extend = false
          }
          var yi = y
          while (yi <= y1) {
            var xi = x
            while (xi <= x1) { used(yi)(xi) = true; xi += 1 }
            yi += 1
          }
          out += TileRect(ys(y), xs(x), ys(y1 + 1), xs(x1 + 1))
        }
        x += 1
      }
      y += 1
    }
    out.toSeq
  }
}
