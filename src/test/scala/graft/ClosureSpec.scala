package graft

import graft.assign.ProblemJoins
import graft.ops.DriverGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * J8 membership closure (`MultiTileProcessor.markProblemMembers:298-350`):
 * the driver finish, the distributed rounds (`closureRounds`) and a
 * plain breadth-first search written here give the same pairs.
 */
class ClosureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def frame(edges: Seq[(Long, Long)]): DataFrame =
    edges.toDF("parent_id", "child_id").repartition(3)

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSeq.sorted

  /** Every (r, l) with l reachable from r in 1..maxDepth hops, r over
    * the distinct parents: a level search per root. */
  private def bfs(edges: Seq[(Long, Long)], maxDepth: Int = 15): Seq[(Long, Long)] = {
    val adj = edges.groupBy(_._1).map { case (p, es) => p -> es.map(_._2).distinct }
    adj.keys.toSeq.flatMap { r =>
      var seen = Set.empty[Long]
      var level = Seq(r)
      var depth = 0
      while (depth < maxDepth && level.nonEmpty) {
        val fresh = level.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(seen)
        seen ++= fresh
        level = fresh
        depth += 1
      }
      seen.toSeq.map(r -> _)
    }.sorted
  }

  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val n = 20 + rnd.nextInt(40)
    val random = Seq.fill(n + rnd.nextInt(2 * n))(
      (rnd.nextInt(n).toLong + 1000, rnd.nextInt(n).toLong + 1000))
    val selfLoops = Seq.fill(3)(rnd.nextInt(n).toLong + 1000).map(x => (x, x))
    val cycle = (0 until 5).map(i => (2000L + i, 2000L + (i + 1) % 5))
    random ++ selfLoops ++ cycle ++ random.take(10)
  }

  test("rounds equal a plain BFS on random graphs with cycles and a 20-hop chain") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    (0 until 12).map(randomGraph).foreach { g =>
      assert(pairs(ProblemJoins.closureRounds(frame(g), 15)) === bfs(g))
    }
    val chained = pairs(ProblemJoins.closureRounds(frame(chain), 15))
    assert(chained === bfs(chain))
    assert(chained.filter(_._1 == 0L).map(_._2) === (1L to 15L))
  }

  test("driver finish equals the rounds on random graphs and a 20-hop chain") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    ((0 until 12).map(randomGraph) :+ chain).foreach { g =>
      val driver = ProblemJoins.membershipClosure(frame(g))
      assert(driver.isLocal, "a small graph takes the driver finish")
      assert(pairs(driver) === pairs(ProblemJoins.closureRounds(frame(g), 15)))
      assert(pairs(driver) === bfs(g))
    }
  }

  test("empty input gives no pairs on both paths") {
    val empty = frame(Nil)
    assert(ProblemJoins.membershipClosure(empty).isEmpty)
    assert(ProblemJoins.closureRounds(empty, 15).isEmpty)
  }

  test("a null parent or child id falls back to exactly the rounds") {
    val edges = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(1L)), (Some(3L), None), (Some(3L), Some(1L)))
      .toDF("parent_id", "child_id").repartition(3)
    def rows(df: DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.get(1))).toString).toSeq.sorted
    val driver = ProblemJoins.membershipClosure(edges)
    assert(!driver.isLocal)
    assert(rows(driver) === rows(ProblemJoins.closureRounds(edges, 15)))
  }

  test("int id columns keep int output types") {
    val g = randomGraph(7)
    val ints = g.map { case (a, b) => (a.toInt, b.toInt) }
      .toDF("parent_id", "child_id").repartition(3)
    val driver = ProblemJoins.membershipClosure(ints)
    val rounds = ProblemJoins.closureRounds(ints, 15)
    assert(driver.isLocal)
    assert(driver.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    assert(rounds.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    assert(pairs(driver) === pairs(rounds))
    assert(pairs(driver) === bfs(g))
    assert(ProblemJoins.membershipClosure(frame(g)).schema.map(_.dataType) ===
      Seq(LongType, LongType))
  }

  test("an output over the pair bound falls back to the rounds") {
    // the edge bound is also the bound on output pairs
    val g = randomGraph(3)
    assert(bfs(g).size > g.size)
    val overPairs = ProblemJoins.boundedClosure(frame(g), 15, g.size.toLong)
    assert(!overPairs.isLocal)
    assert(pairs(overPairs) === bfs(g))
    val overEdges = ProblemJoins.boundedClosure(frame(g), 15, g.size - 1L)
    assert(!overEdges.isLocal)
    assert(pairs(overEdges) === bfs(g))
  }

  test("the edge scan stops once the total passes the bound") {
    // ten waves of partitions that each fit the bound; two do not
    val cores = spark.sparkContext.defaultParallelism
    val parts = 10 * cores
    val sent = spark.sparkContext.longAccumulator("partitions sent")
    val slow = spark.range(0, parts * 100L, 1, parts).as[Long].mapPartitions { it =>
      Thread.sleep(300)
      sent.add(1)
      it
    }.toDF("parent_id").withColumn("child_id", $"parent_id" + 1)
    assert(DriverGraph.collectEdges(slow, "parent_id", "child_id", 150L).isEmpty)
    // killed tasks send no result and no accumulator update
    assert(sent.value < parts / 2, s"${sent.value} of $parts partitions scanned")
    assert(DriverGraph.collectEdges(slow, "parent_id", "child_id", parts * 100L)
      .map(_._1.length) === Some(parts * 100))
  }

  test("an output over the local-row limit returns through primitive slices") {
    val n = DriverGraph.LocalRows + 1L
    val matching = spark.range(0, n, 1, 3)
      .selectExpr("id AS parent_id", s"id + $n AS child_id")
    val driver = ProblemJoins.membershipClosure(matching)
    assert(!driver.isLocal)
    assert(pairs(driver) === (0L until n).map(i => (i, i + n)))
  }
}
