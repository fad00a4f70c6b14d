package graft

import java.io.FileOutputStream
import java.util.zip.GZIPOutputStream
import scala.util.Random

import graft.formats._
import graft.sources.OsmFileSource

/** Small OSM entity corpora and their files in any supported format. */
object OsmFixture {

  /** Two dense hotspots so the solver must split; ways chain nearby
    * nodes (some crossing between hotspots), relations nest. */
  def corpus(nNodes: Int = 4000): Vector[OsmEntity] = {
    val rnd = new Random(7)
    val nodes = Vector.tabulate(nNodes) { i =>
      val hot = i % 2
      val baseLat = if (hot == 0) 100000000 else 140000000 // 10N / 14N
      val baseLon = if (hot == 0) 200000000 else 260000000
      OsmEntity.node(1000L + i, baseLat + rnd.nextInt(20000000),
        baseLon + rnd.nextInt(20000000), version = 1,
        tags = if (i % 50 == 0) Vector(OsmTag("amenity", "cafe"),
          OsmTag("created_by", "editor")) else Vector.empty)
    }
    val ways = Vector.tabulate(300) { i =>
      // every 5th way spans both hotspots -> guaranteed problem ways
      val refs =
        if (i % 5 == 0) Vector(1000L + 2 * i, 1000L + 2 * i + 1, 1000L + 2 * i + 2)
        else Vector.tabulate(4)(j => 1000L + 2 * i + 2 * j)
      OsmEntity.way(50000L + i, refs, version = 1,
        tags = Vector(OsmTag("highway", "track")))
    }
    val rels = Vector.tabulate(30) { i =>
      val members =
        Vector(OsmMember(OsmKind.Way, 50000L + i * 5, "outer"),
          OsmMember(OsmKind.Node, 1000L + i * 7, "")) ++
          (if (i < 10) Vector(OsmMember(OsmKind.Relation, 80000L + i + 1, "subarea"))
           else Vector.empty)
      OsmEntity.relation(80000L + i, members, version = 1,
        tags = Vector(OsmTag("type", "multipolygon")))
    }
    nodes ++ ways ++ rels
  }

  def writeFile(path: String, es: Seq[OsmEntity]): Unit = {
    val fmt = OsmFileSource.formatOf(path)
    val fos = new FileOutputStream(path)
    fmt match {
      case "o5m" =>
        val w = new O5mWriter(fos); es.foreach(w.write); w.finish(); fos.close()
      case "pbf" =>
        val w = new PbfWriter(fos); es.foreach(w.write); w.finish(); fos.close()
      case _ =>
        val out = if (path.endsWith(".gz")) new GZIPOutputStream(fos) else fos
        val w = new OsmXmlWriter(out); es.foreach(w.write); w.finish(); out.close()
    }
  }
}
