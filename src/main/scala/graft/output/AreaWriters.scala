package graft.output

import graft.geo.{MapUnits, TileRect}
import java.io.{FileWriter, PrintWriter}
import java.util.Locale

/** A solved tile with its output id and optional name. */
final case class AreaDef(mapId: Int, rect: TileRect, name: Option[String] = None)

/**
 * Driver-side golden-format writers for the split results
 * (reference `AreaList.java:70-91,230-270`, `ProblemLists.java:190-216`).
 * Formats are byte-compatible with the reference so `areas.list` /
 * `template.args` can serve as cross-checkable oracles; the optional
 * timestamp is omitted by default to keep outputs byte-stable.
 */
object AreaWriters {

  def writeAreasList(path: String, areas: Seq[AreaDef],
                     timestamp: Option[String] = None): Unit = {
    val pw = new PrintWriter(new FileWriter(path))
    try {
      pw.println("# List of areas")
      pw.format(Locale.ROOT, "# Generated %s%n", timestamp.getOrElse("(deterministic)"))
      pw.println("#")
      areas.foreach { a =>
        pw.format(Locale.ROOT, "%08d: %d,%d to %d,%d%n", Int.box(a.mapId),
          Int.box(a.rect.minLat), Int.box(a.rect.minLon),
          Int.box(a.rect.maxLat), Int.box(a.rect.maxLon))
        pw.format(Locale.ROOT, "#       : %f,%f to %f,%f%n",
          Double.box(MapUnits.toDegrees(a.rect.minLat)),
          Double.box(MapUnits.toDegrees(a.rect.minLon)),
          Double.box(MapUnits.toDegrees(a.rect.maxLat)),
          Double.box(MapUnits.toDegrees(a.rect.maxLon)))
        pw.println()
      }
    } finally pw.close()
  }

  /** Parse an areas.list file back (the split-file reuse source,
    * reference `AreaList.readList:105-141`). */
  def readAreasList(path: String): Seq[AreaDef] = {
    val pat = """([0-9]{8})\s*:\s*(-?\d+),(-?\d+) to (-?\d+),(-?\d+)""".r
    val src = scala.io.Source.fromFile(path)
    try {
      src.getLines().flatMap { raw =>
        val line = raw.trim
        if (line.isEmpty || line.startsWith("#")) None
        else pat.findFirstMatchIn(line).map { m =>
          val r = TileRect(m.group(2).toInt, m.group(3).toInt,
            m.group(4).toInt, m.group(5).toInt)
          require(r.verify, s"invalid area in $path: $line")
          AreaDef(m.group(1).toInt, r)
        }
      }.toList
    } finally src.close()
  }

  def writeTemplateArgs(path: String, areas: Seq[AreaDef],
                        outputType: String = "parquet",
                        startMapId: Int = -1): Unit = {
    val pw = new PrintWriter(new FileWriter(path))
    try {
      pw.println("#")
      pw.println("# This file can be given to mkgmap using the -c option")
      pw.println("# Please edit it first to add a description of each map.")
      pw.println("#")
      pw.println()
      pw.println("# You can set the family id for the map")
      pw.println("# family-id: 980")
      pw.println("# product-id: 1")
      pw.println()
      pw.println("# Following is a list of map tiles.  Add a suitable description")
      pw.println("# for each one.")
      var mapId = if (startMapId % 100 == 0) startMapId + 1 else startMapId
      areas.foreach { a =>
        pw.println()
        pw.format(Locale.ROOT, "mapname: %08d%n",
          Int.box(if (startMapId < 0) a.mapId else { val v = mapId; mapId += 1; v }))
        a.name match {
          case None => pw.println("# description: OSM Map")
          case Some(n) => pw.println("description: " + n.take(50))
        }
        val ext = outputType match {
          case "pbf" => ".osm.pbf"
          case "o5m" => ".o5m"
          case "parquet" => ".parquet"
          case _ => ".osm.gz"
        }
        pw.format(Locale.ROOT, "input-file: %08d%s%n", Int.box(a.mapId), ext)
      }
      pw.println()
    } finally pw.close()
  }

  /** Parse a problem-file (`way: <id>` / `rel: <id>` lines) — the
    * user-supplied problem-id source, reference
    * `ProblemLists.readProblemIds:129-179`. */
  def readProblemList(path: String): (Seq[String], Seq[String]) = {
    val way = """way:\s*(\S+).*""".r
    val rel = """rel:\s*(\S+).*""".r
    val src = scala.io.Source.fromFile(path)
    try {
      val ids = src.getLines().map(_.trim).collect {
        case way(id) => ("way", id)
        case rel(id) => ("rel", id)
      }.toList
      (ids.collect { case ("way", id) => id }, ids.collect { case ("rel", id) => id })
    } finally src.close()
  }

  /** Sorted problem ids, reference format `way: <id> #` / `rel: <id> #`
    * (`ProblemLists.writeProblemList:190-216`). */
  def writeProblemList(path: String, wayIds: Seq[String], relIds: Seq[String]): Unit = {
    val pw = new PrintWriter(new FileWriter(path))
    try {
      pw.println("#")
      pw.println("# This file can be given to splitter using the --problem-file option")
      pw.println("#")
      wayIds.sorted.foreach(id => pw.println(s"way: $id #"))
      relIds.sorted.foreach(id => pw.println(s"rel: $id #"))
    } finally pw.close()
  }

  /** Streamed [[writeProblemList]] for Datasets of ids (first column):
    * way lines then rel lines, each string-sorted, pulled to the driver
    * one partition at a time — bounded memory at any problem count.
    * Returns the total id count. */
  def writeProblemListKinds(path: String,
                            wayIds: org.apache.spark.sql.DataFrame,
                            relIds: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val pw = new PrintWriter(new FileWriter(path))
    try {
      pw.println("#")
      pw.println("# This file can be given to splitter using the --problem-file option")
      pw.println("#")
      var n = 0L
      def emit(df: org.apache.spark.sql.DataFrame, prefix: String): Unit = {
        val it = df.select(col(df.columns.head).cast("string").as("id"))
          .orderBy("id").toLocalIterator()
        while (it.hasNext) {
          pw.println(s"$prefix ${it.next().getString(0)} #")
          n += 1
        }
      }
      emit(wayIds, "way:")
      emit(relIds, "rel:")
      n
    } finally pw.close()
  }
}
