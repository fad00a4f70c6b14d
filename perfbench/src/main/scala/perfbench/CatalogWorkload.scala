package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.SparkEntry
import graft.queries.{Catalog, LinkCatalog}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * The timed query set of the repository's bench: every
 * `SparkEntry.queries` entry except the Verify-only `q_dedup_cc`, each
 * collected to the driver, in an order the seed shuffles. Setup runs every
 * oracle SQL in DuckDB (perfbench/oracle.py) over the same parquet tables;
 * each pass's results are compared with it outside the timed region, the
 * way the repository's oracle check compares them.
 */
final class CatalogWorkload(data: String, seed: Long, work: String, python: String,
                            oracleScript: String) extends Workload {
  private val names = CatalogWorkload.Queries.sorted
  private val order = new scala.util.Random(seed).shuffle(names)
  private var expected = Map.empty[String, Oracle.Result]
  private val results = mutable.LinkedHashMap.empty[String, Either[Throwable, (StructType, Array[Row])]]

  def items: Long = names.size
  def attemptsPerPass: Int = names.size
  def describe: Seq[String] = Seq(
    s"input: tables under $data, ${names.size} queries, seed $seed",
    s"order: ${order.mkString(" ")}")

  def setup(spark: SparkSession): Unit = {
    val sqlFile = s"$work/oracle_sql.json"
    val outFile = s"$work/oracle.json"
    Files.createDirectories(Paths.get(work))
    val sql = SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(sqlFile), Oracle.mapper.writeValueAsString(
      names.map(n => n -> sql(n)).toMap.asJava))
    val p = new ProcessBuilder(python, oracleScript, data, sqlFile, outFile).inheritIO().start()
    require(p.waitFor() == 0, s"oracle script exited with ${p.exitValue()}")
    expected = Oracle.load(outFile)
  }

  def pass(spark: SparkSession, t: Tracer): Unit = {
    results.clear()
    order.foreach { n =>
      val t0 = System.nanoTime()
      results(n) = t.span(s"q.$n") {
        try {
          val df = SparkEntry.queries(n)(spark, data)
          Right((df.schema, df.collect()))
        } catch { case e: Exception => Left(e) }
      }
      System.err.println(f"[perfbench] $n ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  def check(spark: SparkSession, pass: Int): Seq[String] = results.toSeq.flatMap {
    case (n, Left(e)) => Some(s"$n threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    case (n, Right((schema, rows))) =>
      Oracle.compare(schema, rows, expected(n)).map(m => s"$n: $m")
  }

  private val DedupOps = Set("q_minhash", "q_lsh_pairs", "q_dedup_near", "q_dedup_cc_stars",
    "q_simhash", "q_simhash_dup", "q_ngram_jaccard", "q_dup_spans", "q_dup_span_merge",
    "q_decontaminate", "q_decontaminate_xxh", "q_decontaminate_full")
  private val MultimodalOps = Set("q_media_extract", "q_frame_sample")
  private val SimilarityOps = Set("q_cosine_topk", "q_ann_lsh", "q_ivf_assign",
    "q_ann_multiprobe", "q_ivf_search", "q_ivf_search_trained", "q_pq_codes",
    "q_ivfpq_search", "q_ann_recall", "q_embed_int8", "q_embed_dup", "q_embed_dup_lsh")

  /** The metric a query's time adds to: the catalog map that defines it,
    * and for `OpsCatalog` queries the ops module they run (queries built
    * from Spark functions alone, and packing, count as analysis). */
  private def groupOf(n: String): String =
    if (Catalog.geoQueries.contains(n)) "queries.geo_s"
    else if (Catalog.relQueries.contains(n)) "queries.rel_s"
    else if (Catalog.textQueries.contains(n)) "queries.text_s"
    else if (LinkCatalog.queries.contains(n)) "queries.link_s"
    else if (DedupOps(n)) "ops.dedup_s"
    else if (SimilarityOps(n)) "ops.similarity_s"
    else if (MultimodalOps(n)) "ops.multimodal_s"
    else "ops.analysis_s"

  def layers(spark: SparkSession, t: Tracer, tc: TaskCollector, qc: QueryCollector): Seq[Metric] = {
    val times = names.map(n => n -> t.seconds(s"q.$n"))
    val groups = times.groupBy { case (n, _) => groupOf(n) }.toSeq.map { case (g, ts) =>
      Metric(g, ts.map(_._2).sum, "s")
    }
    groups ++ CatalogWorkload.Heaviest.map(n => Metric(s"query.${n}_s", t.seconds(s"q.$n"), "s"))
  }
}

object CatalogWorkload {
  /** One query of every catalog map and ops module. */
  val Queries: Seq[String] = Seq("q_density", "q_closure", "q_multi_join", "q_token_count",
    "q_lsh_pairs", "q_ivf_assign", "q_vocab", "q_media_extract")
  /** Queries among the suite's ten heaviest, timed one by one. */
  val Heaviest: Seq[String] = Seq("q_closure", "q_lsh_pairs", "q_multi_join")
}

/**
 * Comparison with the DuckDB oracle, mirroring the repository's oracle
 * check: columns matched by sorted name, column types matched as pandas
 * dtypes (nested values are objects), rows sorted, integers and strings
 * exact, floats within rtol 1e-12 (atol 1e-8).
 */
object Oracle {
  final case class Result(columns: Seq[String], types: Seq[String], rows: Seq[IndexedSeq[Any]])

  val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  def load(path: String): Map[String, Result] = {
    val root = mapper.readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Result(
        v.get("columns").elements().asScala.map(_.asText).toSeq,
        v.get("types").elements().asScala.map(_.asText).toSeq,
        v.get("rows").elements().asScala.map(r => r.elements().asScala.map(json).toIndexedSeq).toSeq)
    }.toMap
  }

  private def json(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.booleanValue
    else if (n.isIntegralNumber && n.canConvertToLong) n.longValue
    else if (n.isNumber) n.doubleValue
    else if (n.isTextual) n.textValue
    else n.elements().asScala.map(json).toVector

  private def spark(v: Any): Any = v match {
    case null => null
    case x: java.lang.Byte => x.longValue
    case x: java.lang.Short => x.longValue
    case x: java.lang.Integer => x.longValue
    case x: java.lang.Long => x.longValue
    case x: java.lang.Float => x.doubleValue
    case x: java.math.BigDecimal => x.doubleValue
    case r: Row => r.toSeq.map(spark).toVector
    case s: scala.collection.Seq[_] => s.map(spark).toVector
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Vector(spark(k), spark(x)) }.toVector
    case other => other
  }

  def dtypeOfDuck(t: String): String = t match {
    case "BOOLEAN" => "bool"
    case "TINYINT" => "int8"
    case "SMALLINT" => "int16"
    case "INTEGER" => "int32"
    case "BIGINT" => "int64"
    case "FLOAT" => "float32"
    case "DOUBLE" | "HUGEINT" => "float64"
    case d if d.startsWith("DECIMAL") => "float64"
    case other => if (other.startsWith("TIMESTAMP") || other == "DATE") other else "object"
  }

  def dtypeOfSpark(t: DataType): String = t match {
    case BooleanType => "bool"
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType | _: DecimalType => "float64"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP WITH TIME ZONE"
    case TimestampNTZType => "TIMESTAMP"
    case _ => "object"
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: Vector[_], y: Vector[_]) =>
      x.iterator.zip(y.iterator).map { case (p, q) => cmp(p, q) }.find(_ != 0)
        .getOrElse(Integer.compare(x.size, y.size))
    case _ => a.getClass.getName.compareTo(b.getClass.getName)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Long, y: Long) => x == y
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      (p.isNaN && q.isNaN) || p == q || math.abs(p - q) <= 1e-8 + 1e-12 * math.abs(q)
    case (x: Vector[_], y: Vector[_]) =>
      x.size == y.size && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private val rowOrder: Ordering[IndexedSeq[Any]] = (x, y) => cmp(x.toVector, y.toVector)

  /** Mismatch messages; empty when the result equals the oracle. */
  def compare(schema: StructType, rows: Array[Row], exp: Result): Option[String] = {
    val gotCols = schema.fieldNames.toSeq.sorted
    val expCols = exp.columns.sorted
    if (gotCols != expCols) return Some(s"columns ${gotCols.mkString(",")} vs ${expCols.mkString(",")}")
    val gotTypes = gotCols.map(c => dtypeOfSpark(schema(c).dataType))
    val expTypes = gotCols.map(c => dtypeOfDuck(exp.types(exp.columns.indexOf(c))))
    if (gotTypes != expTypes)
      return Some(s"dtypes ${gotTypes.mkString(",")} vs ${expTypes.mkString(",")}")
    if (rows.length != exp.rows.size) return Some(s"${rows.length} rows vs ${exp.rows.size}")
    val gotIdx = gotCols.map(schema.fieldIndex)
    val expIdx = gotCols.map(exp.columns.indexOf(_))
    val got = rows.map(r => gotIdx.map(i => spark(r.get(i))).toIndexedSeq).sorted(rowOrder)
    val want = exp.rows.map(r => expIdx.map(r).toIndexedSeq).sorted(rowOrder)
    got.iterator.zip(want.iterator).zipWithIndex.collectFirst {
      case ((g, w), i) if !same(g.toVector, w.toVector) => s"row $i: $g vs $w"
    }
  }
}
