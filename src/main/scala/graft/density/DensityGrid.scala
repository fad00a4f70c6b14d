package graft.density

import graft.geo.TileRect
import java.io.{BufferedReader, FileReader, FileWriter}

/**
 * Driver-side 2-D histogram of point counts at a fixed resolution:
 * cell (x, y) counts the points with
 * `x = (lon - minLon) >>> shift`, `y = (lat - minLat) >>> shift`,
 * `shift = 24 - resolution`.
 *
 * Columns are allocated lazily so an ocean of empty cells costs
 * nothing (same memory shape as the reference's density map,
 * splitter `solver/DensityMap.java:40-140`). The grid is small by
 * construction (resolution <= 16 on the driver path), so it is
 * collected from the distributed cell histogram produced by
 * [[DensityJob]] rather than streamed point-by-point.
 *
 * @param bounds grid coverage, already aligned to 2^shift
 * @param resolution grid resolution in [1, 24]
 */
final class DensityGrid(val bounds: TileRect, val resolution: Int) {
  require(resolution >= 1 && resolution <= 24, s"bad resolution $resolution")
  val shift: Int = 24 - resolution
  val width: Int = bounds.width >> shift
  val height: Int = bounds.height >> shift

  private val cols: Array[Array[Int]] = new Array[Array[Int]](math.max(width, 0))
  private var total: Long = 0L

  def totalCount: Long = total

  /** Backing column array (null = empty column). Read-only view for
    * bulk consumers ([[graft.solver.SolverGrid]] prefix builds) —
    * callers must not mutate. */
  private[graft] def columnOrNull(x: Int): Array[Int] = cols(x)

  /** Add `n` points to grid cell (x, y). */
  def addToCell(x: Int, y: Int, n: Int): Unit = {
    require(x >= 0 && x < width && y >= 0 && y < height, s"cell ($x,$y) outside ${width}x$height")
    var c = cols(x)
    if (c == null) { c = new Array[Int](height); cols(x) = c }
    c(y) += n
    total += n
  }

  /** Add one point given in map units; silently ignores out-of-bounds
    * points (reference `DensityMap.addNode:125-140`). */
  def addPoint(lat: Int, lon: Int): Unit = {
    if (bounds.contains(lat, lon)) {
      var x = (lon - bounds.minLon) >>> shift
      if (x == width) x -= 1
      var y = (lat - bounds.minLat) >>> shift
      if (y == height) y -= 1
      addToCell(x, y, 1)
    }
  }

  def cellToLat(y: Int): Int = (y << shift) + bounds.minLat
  def cellToLon(x: Int): Int = (x << shift) + bounds.minLon
  def latToCellY(lat: Int): Int = (lat - bounds.minLat) >>> shift
  def lonToCellX(lon: Int): Int = (lon - bounds.minLon) >>> shift

  /** Restrict to the intersection with `subsetBounds` (aligned). */
  def subset(subsetBounds: TileRect): DensityGrid = {
    val inter = bounds.intersection(subsetBounds)
      .getOrElse(return new DensityGrid(TileRect(0, 0, 1 << shift, 1 << shift), resolution))
    val out = new DensityGrid(inter, resolution)
    val x0 = lonToCellX(inter.minLon)
    val y0 = latToCellY(inter.minLat)
    var x = 0
    while (x < out.width) {
      val src = cols(x0 + x)
      if (src != null) {
        var y = 0
        while (y < out.height) {
          val n = src(y0 + y)
          if (n != 0) out.addToCell(x, y, n)
          y += 1
        }
      }
      x += 1
    }
    out
  }

  /** densities.txt-compatible dump: two bbox header lines then
    * non-empty `x,y,count` rows in column-major order (reference
    * `DensityMap.saveMap:230-250`). Used as the split-round resume
    * checkpoint. */
  def save(path: String, detailBounds: TileRect): Unit = {
    val w = new FileWriter(path)
    try {
      w.write(s"${detailBounds.minLat},${detailBounds.minLon},${detailBounds.maxLat},${detailBounds.maxLon}\n")
      w.write(s"${bounds.minLat},${bounds.minLon},${bounds.maxLat},${bounds.maxLon}\n")
      var x = 0
      while (x < width) {
        if (cols(x) != null) {
          var y = 0
          while (y < height) {
            val n = cols(x)(y)
            if (n != 0) w.write(s"$x,$y,$n\n")
            y += 1
          }
        }
        x += 1
      }
    } finally w.close()
  }
}

object DensityGrid {
  /** Reload a [[DensityGrid.save]] dump (reference
    * `DensityMap.readMap:258-332`). */
  def load(path: String, resolution: Int): (DensityGrid, TileRect) = {
    val r = new BufferedReader(new FileReader(path))
    try {
      def parseRect(line: String): TileRect = {
        val a = line.split(',')
        TileRect(a(0).toInt, a(1).toInt, a(2).toInt, a(3).toInt)
      }
      val detail = parseRect(r.readLine())
      val gridBounds = parseRect(r.readLine())
      val g = new DensityGrid(gridBounds, resolution)
      var line = r.readLine()
      while (line != null) {
        val a = line.split(',')
        g.addToCell(a(0).toInt, a(1).toInt, a(2).toInt)
        line = r.readLine()
      }
      (g, detail)
    } finally r.close()
  }
}
