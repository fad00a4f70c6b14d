package graft.output

import java.io.{BufferedOutputStream, OutputStream}
import java.util.zip.GZIPOutputStream

import graft.formats._
import graft.geo.MapUnits
import graft.sources.SerializableHadoopConf
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Per-tile OSM file writers (sinks K1-K3 of SURVEY.md §2): the `dist`
 * phase's assigned entities land as one `%08d.o5m` / `%08d.osm.gz` /
 * `%08d.osm.pbf` per tile (the names template.args lists), exactly the reference's output surface
 * (writer/O5mMapWriter.java initForWrite filename :171, OSMXMLWriter
 * :50, BinaryMapWriter; dispatch in OSMWriter). The per-file byte
 * formats are the byte-parity codecs of [[graft.formats]]
 * (RefFormatParitySpec pins o5m/xml equality with the reference
 * writers).
 *
 * Distribution: one shuffle, hash-partitioned on `map_id`, each task
 * streaming its tiles' files in sorted (map_id, kind, id) order — file
 * handles never overlap, memory stays O(1) per task, and tile count
 * scales past any single node because tiles spread across executors.
 * Element order inside a file is nodes, ways, relations, each
 * ascending by id (the reference's pass order over a sorted input
 * file). `created_by` tags are dropped HERE, not at the sources — the
 * reference drops them at parse time (Element.addTag,
 * Element.java:60-66), so its tiles never carry them.
 */
object OsmTileSink {

  /** Writer facade over the three codecs. */
  private trait EntitySink {
    def write(e: OsmEntity): Unit
    def finish(): Unit
  }

  def extensionOf(format: String): String = format match {
    case "o5m" => "o5m"
    case "xml" => "osm.gz"
    case "pbf" => "osm.pbf"
    case other => throw new IllegalArgumentException(
      s"unsupported tile output format: $other (o5m | xml | pbf)")
  }

  /** The filesystem tiles are written through. A checksummed one (the
    * local filesystem) would leave a `.<tile>.crc` beside every tile,
    * so its raw filesystem writes them; the cached instance that the
    * parquet sinks share is left as it is. */
  private def tileFs(outDir: String, conf: Configuration): FileSystem =
    new Path(outDir).getFileSystem(conf) match {
      case checksummed: ChecksumFileSystem => checksummed.getRawFileSystem
      case fs => fs
    }

  /** o5m/pbf bbox values: (long)(Utils.toDegrees(mu) * 1e7), the
    * reference writers' truncation (O5mMapWriter.writeBBox). */
  private def deg7(mu: Int): Long = (MapUnits.toDegrees(mu) * 1e7).toLong

  private def open(out: OutputStream, format: String, rect: graft.geo.TileRect,
      versionPolicy: String): EntitySink = format match {
    case "o5m" =>
      val w = new O5mWriter(out, versionPolicy)
      w.writeBounds(OsmBounds(deg7(rect.minLat), deg7(rect.minLon),
        deg7(rect.maxLat), deg7(rect.maxLon)))
      new EntitySink {
        def write(e: OsmEntity): Unit = w.write(e)
        def finish(): Unit = { w.finish(); out.close() }
      }
    case "xml" =>
      val gz = new GZIPOutputStream(out)
      val w = new OsmXmlWriter(gz, versionPolicy)
      w.writeHeader(Some((MapUnits.toDegrees(rect.minLat), MapUnits.toDegrees(rect.minLon),
        MapUnits.toDegrees(rect.maxLat), MapUnits.toDegrees(rect.maxLon))))
      new EntitySink {
        def write(e: OsmEntity): Unit = w.write(e)
        def finish(): Unit = { w.finish(); gz.finish(); gz.close() }
      }
    case "pbf" =>
      val w = new PbfWriter(out, versionPolicy)
      w.writeHeader(Some(OsmBounds(deg7(rect.minLat), deg7(rect.minLon),
        deg7(rect.maxLat), deg7(rect.maxLon))))
      new EntitySink {
        def write(e: OsmEntity): Unit = w.write(e)
        def finish(): Unit = { w.finish(); out.close() }
      }
    case other => throw new IllegalArgumentException(s"unknown format $other")
  }

  private def entityOf(r: Row): OsmEntity = {
    val tags = r.getSeq[Row](5)
      .map(t => OsmTag(t.getString(0), t.getString(1)))
      .filterNot(_.key == "created_by")
      .toVector
    val refs = r.getSeq[Long](6).toVector
    val members = r.getSeq[Row](7)
      .map(m => OsmMember(m.getString(0), m.getLong(1), m.getString(2)))
      .toVector
    val kind = r.getString(1)
    OsmEntity(kind, r.getLong(2), r.getInt(3), r.getInt(4),
      hasCoords = kind == OsmKind.Node, r.getInt(8), tags, refs, members)
  }

  /**
   * Write one OSM file per tile. `assigned` must carry
   * (map_id, kind, id, lat7, lon7, version, tags, refs, members);
   * `areas` provides each tile's bounds for the file header.
   *
   * Commit protocol: stale outputs of a previous run are deleted ONCE
   * on the driver before the job; each task then writes to
   * attempt-scoped temp names (`_tmp_<tile>.<attemptId>`) and renames
   * into place FIRST-WINS after the whole partition succeeded (content
   * is deterministic — sorted (map_id, kind, id) — so identical across
   * attempts; a loser just drops its temp). Tasks never delete a live
   * tile, so a zombie/speculative attempt cannot race the driver-side
   * empty-tile backfill into clobbering a full file. Tiles with ZERO
   * assigned entities still get a header-only file afterwards (written
   * via temp + rename too) — the reference opens one writer per area
   * up front (OSMWriter.initForWrite) and template.args references
   * every area's file.
   *
   * `areas` should be exactly the areas this call may write (the
   * caller's --max-areas chunk): bounds lookup and empty-tile backfill
   * both scope to it.
   *
   * @return number of entity rows written across all tiles
   */
  def write(assigned: DataFrame, outDir: String, format: String,
      areas: Seq[AreaDef], versionPolicy: String = "keep"): Long = {
    val spark = assigned.sparkSession
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val rects: Map[Int, graft.geo.TileRect] = areas.map(a => a.mapId -> a.rect).toMap
    val ext = extensionOf(format)
    val rowsWritten = spark.sparkContext.longAccumulator("osm_tile_rows")

    val kindRank = when(col("kind") === OsmKind.Node, 0)
      .when(col("kind") === OsmKind.Way, 1).otherwise(2)
    val rows = assigned.select(
        col("map_id").cast("int"), col("kind"), col("id").cast("long"),
        col("lat7").cast("int"), col("lon7").cast("int"),
        col("tags"), col("refs"), col("members"), col("version").cast("int"))
      .repartition(col("map_id"))
      .sortWithinPartitions(col("map_id"), kindRank, col("id"))

    // overwrite semantics of a re-run land here, on the driver, BEFORE
    // any attempt exists — tasks themselves never delete a tile; the
    // checksummed filesystem also drops a `.crc` an older run left
    locally {
      val fs = new Path(outDir).getFileSystem(conf.value)
      areas.foreach { a =>
        val f = new Path(outDir, f"${a.mapId}%08d.$ext")
        if (fs.exists(f)) fs.delete(f, false)
      }
    }

    rows.foreachPartition { (it: Iterator[Row]) =>
      val fs = tileFs(outDir, conf.value)
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val temps = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
      var committed = false
      var cur = Int.MinValue
      var sink: EntitySink = null
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (!committed) {
          // a failed attempt leaves the current sink open — close it
          // before dropping the temps or the fd (and on HDFS the
          // output-stream lease) leaks across retries
          if (sink != null) try sink.finish() catch { case _: Exception => () }
          temps.foreach { case (tmp, _) =>
            try fs.delete(tmp, false) catch { case _: Exception => () }
          }
        }
      })
      it.foreach { r =>
        val mapId = r.getInt(0)
        if (mapId != cur) {
          if (sink != null) sink.finish()
          val rect = rects.getOrElse(mapId,
            throw new IllegalStateException(s"no bounds for tile $mapId"))
          val tmp = new Path(outDir, f"_tmp_$mapId%08d.$ext.$attempt")
          temps += ((tmp, new Path(outDir, f"$mapId%08d.$ext")))
          sink = open(new BufferedOutputStream(fs.create(tmp, true), 1 << 16),
            format, rect, versionPolicy)
          cur = mapId
        }
        sink.write(entityOf(r))
        rowsWritten.add(1L)
      }
      if (sink != null) { sink.finish(); sink = null }
      // task-level commit, FIRST-WINS: if another attempt already
      // renamed its (byte-identical) file into place, drop ours —
      // never delete the live tile
      temps.foreach { case (tmp, dst) =>
        if (!fs.rename(tmp, dst)) {
          if (!fs.exists(dst))
            throw new java.io.IOException(s"rename $tmp -> $dst failed")
          try fs.delete(tmp, false) catch { case _: Exception => () }
        }
      }
      committed = true
    }

    // header-only files for areas no entity mapped to (reference parity:
    // every area has a file, even if empty); temp + rename so a driver
    // crash can't leave a truncated file, create-if-absent so a late
    // full-file commit is never replaced
    val fs = tileFs(outDir, conf.value)
    areas.foreach { a =>
      val f = new Path(outDir, f"${a.mapId}%08d.$ext")
      if (!fs.exists(f)) {
        val tmp = new Path(outDir, f"_tmp_${a.mapId}%08d.$ext.backfill")
        val sink = open(new BufferedOutputStream(fs.create(tmp, true), 1 << 16),
          format, a.rect, versionPolicy)
        sink.finish()
        if (!fs.rename(tmp, f)) {
          if (!fs.exists(f))
            throw new java.io.IOException(s"rename $tmp -> $f failed")
          try fs.delete(tmp, false) catch { case _: Exception => () }
        }
      }
    }
    rowsWritten.value
  }
}
