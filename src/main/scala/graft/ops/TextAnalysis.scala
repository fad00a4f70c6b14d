package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: profile-based
 * language ID, quality scoring, token statistics and document
 * fingerprinting. Ratios are reported as integer ppm so results are
 * engine-exact (no float rounding ambiguity in the oracle compare).
 */
object TextAnalysis {

  /** Token profiles per class. For real corpora these are per-language
    * stopword sets; the mechanism (argmax over profile-overlap scores)
    * is the standard n-gram/stopword language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "scanic" -> Seq("scan", "sort", "merge", "order", "table"),
    "joinish" -> Seq("join", "hash", "batch", "key", "part"),
    "streamese" -> Seq("window", "stream", "spark", "small", "dup"))

  /** Count of tokens belonging to a profile set. */
  private def profileScore(text: Column, words: Seq[String]): Column =
    size(filter(TextDedup.tokens(text), t => t.isInCollection(words)))

  /** Predicted class = argmax profile score, first profile wins ties. */
  def langId(text: Column): Column = {
    val scores = LangProfiles.map { case (name, words) =>
      (name, profileScore(text, words))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.reverse.foldLeft(lit("unknown")) { case (acc, (name, s)) =>
      when(s === best && best > 0, name).otherwise(acc)
    }
  }

  /**
   * Quality metrics per doc: token count, mean token length (ppm),
   * stopword ratio (ppm), repetition = most frequent token count.
   * Single explode + aggregation.
   */
  def qualityMetrics(docs: DataFrame, stopwords: Seq[String],
                     id: String = "doc_id", text: String = "text"): DataFrame = {
    val perTok = docs.select(col(id),
      explode(TextDedup.tokens(col(text))).as("tok"))
    val perDocTok = perTok.groupBy(col(id), col("tok"))
      .agg(count(lit(1)).as("n"))
    perDocTok.groupBy(col(id)).agg(
        sum(col("n")).as("n_tokens"),
        sum(length(col("tok")) * col("n")).as("len_sum"),
        sum(when(col("tok").isInCollection(stopwords), col("n")).otherwise(0L))
          .as("n_stop"),
        max(col("n")).as("top_tok_n"))
      // integer div keeps the ppm ratios engine-exact
      .selectExpr(id,
        "n_tokens",
        "len_sum * 1000000 div n_tokens AS mean_len_ppm",
        "n_stop * 1000000 div n_tokens AS stop_ppm",
        "top_tok_n * 1000000 div n_tokens AS repeat_ppm")
  }

  /** Document fingerprint: min over char-5-gram hashes (the winnowing
    * / rolling-hash document-fingerprint family, collapsed to the
    * minimum so it is one aggregation).
    *
    * (r7) Pure map-side projection: the per-doc min runs over the
    * doc's own gram-hash array (one codegen'd pass over the text's
    * bytes), so the operator has ZERO exchanges — the
    * explode + distinct + groupBy it replaced shuffled one row per
    * (doc, gram) to compute a per-doc minimum, and min is insensitive
    * to the distinct. Values identical: same gram positions
    * (truncated gram included, like charShingles), same 60-bit md5
    * key mod P. A null-text doc keeps its row with a NULL
    * fingerprint, as the old shingle path and the oracle's single
    * NULL gram give it. */
  def fingerprint(docs: DataFrame, n: Int = 5,
                  id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id),
      array_min(transform(
        graft.functions.GramHashesExpr.gramHashes(
          col(text), n, "md5", fullOnly = false),
        h => h % TextDedup.P)).as("fingerprint"))
}
