package graft.ops

import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/**
 * Bounded edge lists finished on the driver: the shared half of the
 * graph kernels that replace tail rounds of distributed joins once a
 * graph is small ([[TextDedup.connectedComponentsStars]]' union-find,
 * [[graft.assign.ProblemJoins.membershipClosure]]' level BFS).
 *
 * The edges travel as two primitive `long[]` per partition, are
 * compacted to dense ints (sorted distinct ids + binary search, so a
 * dense id orders exactly like the id it stands for), and the kernel's
 * output returns as a DataFrame ([[pairFrame]]). Driver heap per edge:
 * 16 bytes packed, 16 more while the endpoint ids sort, 8 for the dense
 * endpoints (measured figures are in the callers' Scaladoc).
 */
object DriverGraph {

  /** One partition's packed edges; `fits` is false when the partition
    * met a null id or more than the edge bound, and then the arrays
    * are empty. */
  final case class Packed(src: Array[Long], dst: Array[Long], fits: Boolean)

  /** Dense form of an edge list: `ids` sorted and distinct, `src(i)`
    * and `dst(i)` the positions of edge i's endpoints in `ids`. */
  final class Dense(val ids: Array[Long], val src: Array[Int], val dst: Array[Int])

  /** Column types the driver path reads and writes back. */
  def integral(t: DataType): Boolean = t == LongType || t == IntegerType

  /**
   * One scan of `edges`' columns `a` and `b` (int or long): each
   * partition packs its rows into two primitive arrays and stops at the
   * first null id or past `maxEdges` rows. The driver keeps partitions
   * while the running total fits and cancels the job at the first one
   * that does not, so it receives at most `maxEdges` packed edges plus
   * the partitions already in flight, and an over-bound input is not
   * scanned to its end. Returns the edges when every id is non-null and
   * the total is `<= maxEdges`, else None.
   */
  def collectEdges(edges: DataFrame, a: String, b: String,
                   maxEdges: Long): Option[(Array[Long], Array[Long])] = {
    val rdd = edges.select(col(a).cast(LongType), col(b).cast(LongType))
      .queryExecution.toRdd
    val bound = math.max(0L, math.min(maxEdges, Int.MaxValue - 8L)).toInt
    val parts = new Array[Packed](rdd.getNumPartitions)
    var total = 0L
    @volatile var over = false
    val job = new AtomicReference[FutureAction[Unit]]()
    // the handler runs on the scheduler's thread, maybe before submitJob
    // returns: whichever side sees both the flag and the job cancels it
    val submitted = edges.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[InternalRow]) => pack(it, bound), parts.indices,
      (i: Int, p: Packed) => if (!over) {
        if (p.fits && total + p.src.length <= bound) {
          parts(i) = p
          total += p.src.length
        } else {
          over = true
          java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
          Option(job.get).foreach(_.cancel())
        }
      }, ())
    job.set(submitted)
    if (over) submitted.cancel()
    Await.ready(submitted, Duration.Inf)
    if (over) None
    else {
      submitted.value.get.get // rethrows a scan that failed
      val src = new Array[Long](total.toInt)
      val dst = new Array[Long](total.toInt)
      var at = 0
      parts.foreach { p =>
        System.arraycopy(p.src, 0, src, at, p.src.length)
        System.arraycopy(p.dst, 0, dst, at, p.dst.length)
        at += p.src.length
      }
      Some((src, dst))
    }
  }

  private def pack(it: Iterator[InternalRow], bound: Int): Packed = {
    var src = new Array[Long](1024)
    var dst = new Array[Long](1024)
    var n = 0
    while (it.hasNext) {
      val r = it.next()
      if (r.isNullAt(0) || r.isNullAt(1) || n == bound)
        return Packed(Array.emptyLongArray, Array.emptyLongArray, fits = false)
      if (n == src.length) {
        val grown = math.min(bound.toLong, 2L * n).toInt
        src = java.util.Arrays.copyOf(src, grown)
        dst = java.util.Arrays.copyOf(dst, grown)
      }
      src(n) = r.getLong(0)
      dst(n) = r.getLong(1)
      n += 1
    }
    Packed(java.util.Arrays.copyOf(src, n), java.util.Arrays.copyOf(dst, n), fits = true)
  }

  /** Compacts both endpoint arrays to dense ints over their sorted
    * distinct ids. */
  def dense(src: Array[Long], dst: Array[Long]): Dense = {
    val all = new Array[Long](src.length + dst.length)
    System.arraycopy(src, 0, all, 0, src.length)
    System.arraycopy(dst, 0, all, src.length, dst.length)
    java.util.Arrays.sort(all)
    var k = 0
    var i = 0
    while (i < all.length) {
      if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, k)
    def indexOf(xs: Array[Long]): Array[Int] = {
      val out = new Array[Int](xs.length)
      var j = 0
      while (j < xs.length) { out(j) = java.util.Arrays.binarySearch(ids, xs(j)); j += 1 }
      out
    }
    new Dense(ids, indexOf(src), indexOf(dst))
  }

  /** Outputs up to this many rows return as a LocalRelation: a collect
    * reads them with no job, and the planner sees their exact size, so
    * a join broadcasts them. Larger ones travel as primitive slices (16
    * bytes a row on the driver, where a local row held about 330 in a
    * 1 M-row measurement). Measured in a local[4] JVM on a 4-core box,
    * median of 9 runs, local vs slices: at 10 k rows a collect took 21
    * vs 24 ms and a join + aggregate 223 vs 322 ms; at 30 k 53 vs 31 ms
    * and 308 vs 355 ms; at 50 k 83 vs 34 ms and 388 vs 387 ms; at 100 k
    * 167 vs 37 ms and 566 vs 338 ms. */
  val LocalRows = 30000

  /** The first `n` pairs `(a(i), b(i))` as a DataFrame whose two
    * columns take the given names and (int or long) types. */
  def pairFrame(spark: SparkSession, a: Array[Long], b: Array[Long], n: Int,
                names: (String, String), types: (DataType, DataType)): DataFrame = {
    val (ta, tb) = types
    def row(x: Long, y: Long): Row =
      Row(if (ta == IntegerType) x.toInt else x, if (tb == IntegerType) y.toInt else y)
    val schema = StructType(Seq(
      StructField(names._1, ta, nullable = false),
      StructField(names._2, tb, nullable = false)))
    if (n <= LocalRows) {
      val rows = new java.util.ArrayList[Row](n)
      var i = 0
      while (i < n) { rows.add(row(a(i), b(i))); i += 1 }
      spark.createDataFrame(rows, schema)
    } else {
      val slices = math.min(spark.sparkContext.defaultParallelism, n / 10000 + 1)
      val chunks = (0 until slices).map { s =>
        val (lo, hi) = (n.toLong * s / slices, n.toLong * (s + 1) / slices)
        (java.util.Arrays.copyOfRange(a, lo.toInt, hi.toInt),
          java.util.Arrays.copyOfRange(b, lo.toInt, hi.toInt))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(chunks, slices).flatMap {
        case (xs, ys) => xs.indices.iterator.map(i => row(xs(i), ys(i)))
      }, schema)
    }
  }
}
