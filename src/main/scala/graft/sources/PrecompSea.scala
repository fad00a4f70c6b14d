package graft.sources

import graft.geo.TileRect
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/**
 * Precompiled-sea directory source (S9): a directory holding
 * `index.txt[.gz]` whose lines are `{lat}_{lon};{value}` — value is
 * "sea", "land", or the file name of a mixed tile carrying coastline
 * points — over a fixed 2^15-map-unit raster (reference
 * `solver/PrecompSeaReader.java:48,180-330`).
 *
 * The reference's mixed tiles are OSM files parsed into a sea density
 * map; ours are parquet point files (lat_mu, lon_mu) read with the
 * normal Spark reader — same index/classification/enumeration
 * semantics, Spark-native payload. Pure sea/land entries classify
 * only (they carry no nodes); the downstream merge is
 * [[graft.density.DensityJob.mergeSea]] (empty land cells take
 * seaCount * 2, reference `DensityMap.mergeSeaData:349-428`).
 */
object PrecompSea {

  /** Raster size in map units (reference PRECOMP_RASTER = 1 << 15). */
  val Raster: Int = 1 << 15

  sealed trait TileType
  case object SeaTile extends TileType
  case object LandTile extends TileType
  final case class MixedTile(fileName: String) extends TileType

  final case class SeaIndex(tiles: Map[(Int, Int), TileType],
                            prefix: String, ext: String)

  /** Start of the raster tile containing `value` (reference
    * `getPrecompTileStart:260-270` — NOT plain floor division for
    * negatives: -raster-rem, which overshoots by a full raster when
    * rem != 0; replicated for index-key parity). */
  def tileStart(value: Int): Int = {
    val rem = value % Raster
    if (rem == 0) value
    else if (value >= 0) value - rem
    else value - Raster - rem
  }

  /** End of the raster tile containing `value` (reference
    * `getPrecompTileEnd:278-288`). */
  def tileEnd(value: Int): Int = {
    val rem = value % Raster
    if (rem == 0) value
    else if (value >= 0) value + Raster - rem
    else value - rem
  }

  /**
   * Load `index.txt` or `index.txt.gz` from `dir`. `#` lines are
   * comments; any other line must be `key;value`; mixed-tile file
   * names must all follow one `prefix + key + ext` scheme — both
   * malformed lines and scheme violations throw, like the reference.
   */
  def loadIndex(dir: String): SeaIndex = {
    val plain = Paths.get(dir, "index.txt")
    val gz = Paths.get(dir, "index.txt.gz")
    val reader: BufferedReader =
      if (Files.exists(gz))
        new BufferedReader(new InputStreamReader(
          new GZIPInputStream(new FileInputStream(gz.toFile))))
      else if (Files.exists(plain))
        new BufferedReader(new InputStreamReader(new FileInputStream(plain.toFile)))
      else throw new IllegalArgumentException(
        s"Cannot find required index.txt[.gz] in $dir")
    try {
      var prefix: Option[String] = None
      var ext: Option[String] = None
      val tiles = Map.newBuilder[(Int, Int), TileType]
      Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filterNot(_.startsWith("#")).foreach { line =>
          val items = line.split(";", -1)
          if (items.length != 2)
            throw new IllegalArgumentException(
              s"Invalid format in index file name: $line")
          val key = items(0).split("_", -1)
          if (key.length != 2)
            throw new IllegalArgumentException(
              s"Invalid format in index file name: $line")
          val lat = key(0).toInt
          val lon = key(1).toInt
          val t = items(1) match {
            case "sea" => SeaTile
            case "land" => LandTile
            case f =>
              val prePos = f.indexOf(items(0))
              if (prePos >= 0) {
                val (p, e) = (f.substring(0, prePos),
                  f.substring(prePos + items(0).length))
                (prefix, ext) match {
                  case (None, None) => prefix = Some(p); ext = Some(e)
                  case (Some(p0), Some(e0)) if p0 == p && e0 == e => ()
                  case _ => throw new IllegalArgumentException(
                    s"Unexpected file name in index file: $line")
                }
              }
              MixedTile(f)
          }
          tiles += ((lat, lon) -> t)
        }
      SeaIndex(tiles.result(), prefix.getOrElse(""), ext.getOrElse(""))
    } finally reader.close()
  }

  /** Mixed-tile file names covering `bounds`, in the reference's
    * lat-major enumeration (`getPrecompKeyNames:295-310`). */
  def mixedTileFiles(index: SeaIndex, bounds: TileRect): Seq[String] =
    for {
      lat <- tileStart(bounds.minLat) until tileEnd(bounds.maxLat) by Raster
      lon <- tileStart(bounds.minLon) until tileEnd(bounds.maxLon) by Raster
      t <- index.tiles.get((lat, lon)).toSeq
      f <- t match { case MixedTile(f) => Seq(f); case _ => Nil }
    } yield f

  /** Classification of the raster tile containing a point, if indexed. */
  def classify(index: SeaIndex, lat: Int, lon: Int): Option[TileType] =
    index.tiles.get((tileStart(lat), tileStart(lon)))

  /** Coastline points (lat_mu, lon_mu) of every mixed tile covering
    * `bounds` — the input to the sea density histogram. Returns an
    * empty frame when no mixed tile covers the bounds. */
  def readSeaPoints(spark: SparkSession, dir: String,
                    bounds: TileRect): DataFrame = {
    val files = mixedTileFiles(loadIndex(dir), bounds)
      .map(f => Paths.get(dir, f).toString)
    if (files.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[(Int, Int)].toDF("lat_mu", "lon_mu")
    } else spark.read.parquet(files: _*).select("lat_mu", "lon_mu")
  }
}
