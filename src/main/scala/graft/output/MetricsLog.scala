package graft.output

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, spark_partition_id}

/**
 * The one writer of `dir/metrics.jsonl`: flat JSON objects, one a line.
 * Shapes: `{"phase":"timing","step":S,"sec":F}` ([[step]]),
 * `{"phase":P,"<counter>":N}` ([[line]]),
 * `{"phase":P,"partition":I,"rows":N}` ([[partitions]]) and the
 * iterative solver's `{"round":R,"parent":T,"child":C,"count":N}`.
 */
final class MetricsLog(dir: String) {
  private val path = Paths.get(dir, "metrics.jsonl")

  /** Start a run's record: stale lines of an earlier run never stay. */
  def reset(): MetricsLog = {
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    this
  }

  def append(lines: Iterable[String]): Unit = if (lines.nonEmpty)
    Files.writeString(path, lines.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  def line(fields: (String, Any)*): Unit = append(Seq(MetricsLog.json(fields: _*)))

  /** Run `body`, then append its wall time as a timing line. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    line("phase" -> "timing", "step" -> name, "sec" -> (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Per-partition row counts of `df`, one cheap aggregation. */
  def partitions(df: DataFrame, phase: String): Unit =
    append(df.groupBy(spark_partition_id()).agg(count(lit(1))).collect().toSeq
      .map(r => MetricsLog.json("phase" -> phase, "partition" -> r.getInt(0), "rows" -> r.getLong(1))))
}

object MetricsLog {
  /** Strings quoted, doubles to three decimals in `Locale.ROOT` (a
    * comma-decimal locale would break the JSON), the rest as printed. */
  def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => s""""$k":${String.format(Locale.ROOT, "%.3f", Double.box(v))}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
}
