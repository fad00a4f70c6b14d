package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}

import graft.formats._

/**
 * Seeded synthetic planet in the shape of the repository's OSM format
 * bench: two dense hotspots of nodes (every 20th tagged), ways of four
 * nodes from one hotspot plus every fifth way crossing both hotspots (20 %
 * problem ways), and relations over a way and a node where every third
 * relation nests the next one. The seed moves every coordinate and every
 * member choice; the same (nodes, seed) always gives the same entities.
 */
final case class Planet(nodes: Int, seed: Long) {
  val ways: Int = nodes / 10
  val relations: Int = nodes / 100
  def entities: Long = nodes.toLong + ways + relations

  private val salt = Planet.mix(seed ^ 0x5DEECE66DL)
  private def rnd(stream: Long, i: Long, n: Int): Int =
    ((Planet.mix(salt + stream * 0x100000000L + i) & Long.MaxValue) % n).toInt

  private val FirstNode = 1000L
  private val FirstWay = 50000000L
  private val FirstRel = 80000000L

  def iterator: Iterator[OsmEntity] = {
    val ns = Iterator.tabulate(nodes) { i =>
      val (lat0, lon0) = if (i % 2 == 0) (100000000, 200000000) else (140000000, 260000000)
      OsmEntity.node(FirstNode + i, lat0 + rnd(1, i, 20000000), lon0 + rnd(2, i, 20000000),
        version = 1,
        tags = if (i % 20 == 0) Vector(OsmTag("amenity", "cafe"), OsmTag("name", s"n$i"))
               else Vector.empty)
    }
    val ws = Iterator.tabulate(ways) { i =>
      val base = FirstNode + rnd(3, i, nodes - 8)
      // consecutive ids alternate hotspots; stride 2 stays in one
      val refs =
        if (i % 5 == 0) Vector(base, base + 1, base + 2)
        else Vector.tabulate(4)(j => base + 2 * j)
      OsmEntity.way(FirstWay + i, refs, version = 1, tags = Vector(OsmTag("highway", "track")))
    }
    val rs = Iterator.tabulate(relations) { i =>
      val members =
        Vector(OsmMember(OsmKind.Way, FirstWay + rnd(4, i, ways), "outer"),
          OsmMember(OsmKind.Node, FirstNode + rnd(5, i, nodes), "")) ++
          (if (i % 3 == 0 && i + 1 < relations)
             Vector(OsmMember(OsmKind.Relation, FirstRel + i + 1, "subarea"))
           else Vector.empty)
      OsmEntity.relation(FirstRel + i, members, version = 1,
        tags = Vector(OsmTag("type", "multipolygon")))
    }
    ns ++ ws ++ rs
  }

  /** Writes the planet as `.pbf` and returns its size in bytes. */
  def write(path: String): Long = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try { val w = new PbfWriter(out); iterator.foreach(w.write); w.finish() }
    finally out.close()
    new java.io.File(path).length()
  }
}

object Planet {
  /** splitmix64 finalizer. */
  def mix(i: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
