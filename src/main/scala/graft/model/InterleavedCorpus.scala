package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic construction of the interleaved text+media corpus
 * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
 *
 * Everything is derived from the numeric id with built-in column
 * functions only (no UDFs, stays inside whole-stage codegen), seeded
 * and byte-stable across runs and parallelism levels.
 */
object InterleavedCorpus {

  val Kinds: Seq[String] = Seq("text", "image", "audio", "video")

  /** doc_id string from a numeric id: "d%012d" — unique and sortable. */
  def docIdCol(id: Column): Column = format_string("d%012d", id)

  /** Numeric id back out of a doc_id string. */
  def idOfDocId(docId: Column): Column = substring(docId, 2, 12).cast("long")

  /**
   * Spans for a numeric id + source text: `1 + id % 7` spans; span i
   * is text (kinds 0-5 of a 10-way code) carrying the i-th 16-char
   * slice of the source text, or media (image/audio/video) carrying a
   * deterministic media_ref. `offset` == array position — the
   * invariant the pipeline must preserve.
   */
  def spansCol(id: Column, text: Column): Column = {
    val n = (id % 7 + 1).cast("int")
    transform(sequence(lit(0), n - 1), i => {
      val code = (id * 31 + i * 17) % 10
      val kind = when(code <= 5, "text")
        .when(code <= 7, "image")
        .when(code === 8, "audio")
        .otherwise("video")
      val slice = substring(text, (i * 16 + 1).cast("int"), lit(16))
      val spanText = when(code <= 5,
        when(length(slice) > 0, slice).otherwise(concat(lit("t"), i.cast("string"))))
        .otherwise("")
      // md5-derived ref (not xxhash64): the DuckDB oracle reproduces
      // the exact value, so media queries can be hash-gated end-to-end
      val mediaRef = when(code <= 5, "")
        .otherwise(concat(lit("m:"), substring(
          md5(concat(lit("m"), id.cast("string"), lit("_"), i.cast("string"))),
          1, 16)))
      struct(kind.as("kind"), spanText.as("text"),
        mediaRef.as("media_ref"), i.cast("int").as("offset"))
    })
  }

  /**
   * Interleaved view over the flat `documents` test table
   * (doc_id bigint, text, lang, source, n_chars).
   */
  def fromFlatDocuments(docs: DataFrame): DataFrame = {
    // two-step select: aliasing the new string id as "doc_id" in the
    // same projection would make Spark's lateral-column-alias
    // resolution bind the spans expression's doc_id reference to the
    // NEW string column instead of the input column
    docs
      .select(col("doc_id").cast("long").as("_nid"), col("text"))
      .select(
        docIdCol(col("_nid")).as("doc_id"),
        spansCol(col("_nid"), col("text")).as("spans"))
  }

  /** Fully synthetic corpus of `n` documents (no input table);
    * `offset` shifts the id range (distinct corpora for repeated
    * benchmark runs so no cached plan can be reused across runs). */
  def synthesize(spark: SparkSession, n: Long, partitions: Int = 32,
                 offset: Long = 0): DataFrame = {
    val base = spark.range(offset, offset + n, 1, partitions)
    val id = col("id")
    // deterministic word soup as the text source
    val text = concat_ws(" ",
      transform(sequence(lit(0), (id % 11 + 4).cast("int")), i =>
        concat(lit("w"), ((id * 131 + i * 37) % 97).cast("string"))))
    base.select(
      docIdCol(id).as("doc_id"),
      spansCol(id, text).as("spans"))
  }

  /**
   * Order-sensitive fingerprint of the span sequence: a left fold of
   * xxhash64 over (kind, text, media_ref, offset) in array order.
   * Equal input/output fingerprints prove per-row span-sequence
   * equality through every shuffle.
   */
  def spanFingerprint(spans: Column): Column =
    aggregate(spans, lit(42L),
      (acc, s) => xxhash64(acc, s.getField("kind"), s.getField("text"),
        s.getField("media_ref"), s.getField("offset")))

  /** Whole-corpus fingerprint: XOR of per-row fingerprints (order-
    * independent across rows, order-sensitive within a row; XOR agg
    * cannot overflow under ANSI mode). Compare input vs output to
    * verify nothing was lost or reordered. */
  def corpusFingerprint(df: DataFrame, docId: String = "doc_id",
                        spans: String = "spans"): Long = {
    val r = df
      .select(spanFingerprint(col(spans)).bitwiseXOR(xxhash64(col(docId))).as("rfp"))
      .agg(expr("bit_xor(rfp)").as("fp"))
      .collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
