package graft.queries

import graft.ops.{Similarity, TextAnalysis, TextDedup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators (dedup / similarity / text
 * analysis) as catalog queries with programmatically generated DuckDB
 * oracles — the SQL is derived from the same constants as the Spark
 * plans, so both sides compute identical arithmetic.
 */
object OpsCatalog {
  import Catalog.Query

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** (r7) The documents table is one small parquet file, so its scan
    * plans 1-2 partitions — and per-gram hashing is the per-row hot
    * loop of the dedup/decontamination operators, which serialized on
    * that one task. Fan the kept rows across the cores first (guide
    * §2.5: "one huge unsplittable file ... repartition immediately
    * after the read"). Scale-adaptive: a no-op whenever the scan
    * already has >= defaultParallelism partitions (any production
    * corpus), and the exchange moves only the rows the caller kept. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is a cheap FileIndex lookup (the .rdd partition-count
    // probe forced a full physical planning per call); a production
    // corpus has >= cores files and skips the exchange entirely
    if (df.inputFiles.length >= p) df else df.repartition(p)
  }

  private val K = 16 // minhash permutations
  private val SimBits = 62
  private val Stopwords = Seq("the", "and", "of", "a", "in", "to")

  // q_lsh_pairs / q_dedup_near / q_dedup_cc share the same bounded
  // minhash-signature sub-plan; compute (and lazily materialize) it
  // once per (session, dir) instead of re-tokenizing three times.
  // Keyed by session identity so a stopped session's stale
  // checkpoints can never be reused.
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def boundedSigs(s: SparkSession, dir: String): DataFrame = {
    // evict entries of stopped sessions so the cache never pins a dead
    // SparkSession (and its checkpoint plans) for the life of the JVM
    sigCache.keySet.removeIf(_._1.sparkContext.isStopped)
    sigCache.computeIfAbsent((s, dir), _ =>
      TextDedup.minhashSignatures(
        docs(s, dir).where(col("doc_id") < 2000), K).localCheckpoint(false))
  }

  // distinct (doc_id, token-hash) rows, shared by minhash/simhash oracles
  private val tokSql =
    "(SELECT DISTINCT doc_id, " + TextDedup.tokenHashSql("tok") + " AS h " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))"

  private val minhashSelectSql: String = {
    val aggs = (0 until K).map { i =>
      val (a, b) = TextDedup.perm(i)
      s"min((h * $a + $b) % ${TextDedup.P}) AS mh$i"
    }.mkString(", ")
    s"SELECT doc_id, $aggs FROM $tokSql t GROUP BY doc_id"
  }

  val queries: Map[String, Query] = Map(
    "q_minhash" -> ((s, dir) => TextDedup.minhashSignatures(docs(s, dir), K)),

    // the synthetic corpus draws every doc from one ~100-word vocab,
    // so pairwise jaccard is high and ANY banding yields millions of
    // true candidates; the catalog query therefore runs the strictest
    // banding (2 bands of 8 -> near-exact dups) over a bounded id
    // range — the operator itself is parameterized and scale-correct
    "q_lsh_pairs" -> ((s, dir) =>
      TextDedup.lshCandidatePairs(boundedSigs(s, dir), K, 8)),

    // end-to-end near-dup canonicalization: strict LSH candidates
    // -> similarity floor (>= 12/16 matching components ~ jaccard 0.75)
    // -> keeper = smallest near-duplicate partner (1-hop min-id)
    "q_dedup_near" -> ((s, dir) => {
      // (r7) both union branches read the pair list — materialize it
      // once instead of running the band join per branch
      val pairs = TextDedup.lshCandidatePairs(boundedSigs(s, dir), K, 8)
        .where(col("n_match") >= 12)
        .localCheckpoint(false)
      val sym = pairs.select(col("id_a").as("doc_id"), col("id_b").as("partner"))
        .unionByName(pairs.select(col("id_b").as("doc_id"), col("id_a").as("partner")))
      sym.groupBy("doc_id")
        .agg(least(min(col("partner")), col("doc_id").cast("long")).as("keeper_id"))
        .select(col("doc_id"), col("keeper_id"),
          (col("keeper_id") < col("doc_id")).as("is_dup"))
    }),

    // connected-components canonicalization: same candidate pairs as
    // q_dedup_near, but keeper = smallest id in the whole component
    // (iterative min-label propagation to fixpoint) — idempotent on
    // chains A-B-C where the 1-hop rule picks inconsistent keepers
    "q_dedup_cc" -> ((s, dir) => {
      val pairs = TextDedup.lshCandidatePairs(boundedSigs(s, dir), K, 8)
        .where(col("n_match") >= 12)
      TextDedup.connectedComponents(pairs.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("label").as("keeper_id"),
          (col("label") < col("id")).as("is_dup"))
    }),

    // same canonicalization as q_dedup_cc but via the web-scale
    // large-star/small-star contraction — both CC formulations are
    // independently oracle-gated against the recursive-CTE closure
    "q_dedup_cc_stars" -> ((s, dir) => {
      val pairs = TextDedup.lshCandidatePairs(boundedSigs(s, dir), K, 8)
        .where(col("n_match") >= 12)
      TextDedup.connectedComponentsStars(pairs.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("label").as("keeper_id"),
          (col("label") < col("id")).as("is_dup"))
    }),

    "q_simhash" -> ((s, dir) => TextDedup.simhash(docs(s, dir), SimBits)),

    // Hamming-LSH near-dup: band-blocked candidate join over SimHash
    // fingerprints, exact popcount verification (recall exact for
    // hamming <= nBands - 1 by pigeonhole)
    "q_simhash_dup" -> ((s, dir) =>
      TextDedup.simhashNearDupPairs(
        TextDedup.simhash(docs(s, dir).where(col("doc_id") < 2000), SimBits),
        SimBits, nBands = 4, maxHamming = 3)),

    "q_ngram_jaccard" -> ((s, dir) =>
      TextDedup.ngramJaccardPairs(docs(s, dir), n = 3, maxId = 200)),

    // (r7) spread() is applied ONLY where measured to win: the
    // embeddings table is one parquet partition, and for the two
    // heaviest candidate-side computations (q_ivfpq_search's PQ
    // reconstruction, q_ann_recall's brute-force truth side) fanning
    // the scan over the cores beat the extra exchange; for the light
    // ANN queries the exchange cost the same measurement LOST time,
    // so they keep the plain scan (negative results recorded in
    // OPTIMIZATION_r07.md).
    "q_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.where(col("vec_id") < 10), k = 3,
        nPlanes = 8, dims = 64)
    }),

    "q_ivf_assign" -> ((s, dir) => Similarity.ivfAssign(emb(s, dir), 16)),

    // multi-probe LSH: queries also probe the Hamming-1 neighbor
    // buckets (recall fix for sign-bucket splits)
    "q_ann_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopKMultiProbe(e, e.where(col("vec_id") < 10), k = 3,
        nPlanes = 8, dims = 64, nProbes = 2)
    }),

    // full IVF search: candidates in inverted lists, queries probe
    // their nProbe nearest lists, exact cosine inside the lists only
    "q_ivf_search" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfSearch(e, e.where(col("vec_id") < 10), k = 3,
        nCentroids = 16, nProbe = 2)
    }),

    // trained IVF end-to-end: Lloyd rounds with integer-exact member
    // sums (order-insensitive BIGINTs -> bit-reproducible in DuckDB)
    // -> inverted lists -> probe search; the whole training loop is
    // oracle-gated, not just the quantizer
    "q_ivf_search_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfSearchTrained(e, e.where(col("vec_id") < 10), k = 3,
        nCentroids = 8, iters = 2, nProbe = 2)
    }),

    // product quantization: 64 float32 dims packed to ONE 8-byte code
    // (8 subspaces x 4-bit codebook index) as a zero-exchange
    // literal-codebook projection — the IVF-PQ storage path that lets
    // a 100 TB corpus' inverted lists live at ~3% of raw size
    "q_pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(emb(s, dir), m = 8, kSub = 16)),

    // IVF-PQ search: coarse inverted lists + PQ-reconstruction ADC
    // scoring (one sequential float64 dot against the concatenated
    // codebook lookups -> bit-reproducible in the oracle)
    "q_ivfpq_search" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqSearch(spread(e), e.where(col("vec_id") < 10), k = 3,
        nCentroids = 8, nProbe = 2, m = 8, kSub = 16)
    }),

    // ANN evaluation harness: per-query recall@3 of the IVF probe
    // search against the brute-force ground truth (integer percent —
    // no float aggregation)
    "q_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(spread(e), q, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfSearch(spread(e), q, k = 3, nCentroids = 16, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), expr("(100 * hits) div 3").as("recall_pct"))
    }),

    // int8 embedding quantization (symmetric, per-vector max-abs
    // scale) — the standard 4x embedding-storage compression. Pure
    // map-side projection; round() is away-from-zero in both engines
    // and every float64 step is order-fixed, so codes hash-match
    "q_embed_int8" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"),
          array_max(transform(col("embedding"),
            x => abs(x.cast("double")))).as("scale"),
          posexplode(col("embedding")).as(Seq("d0", "x")))
        .where(col("scale") > 0)
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("d"),
          round(col("x").cast("double") / col("scale") * 127, 0)
            .cast("long").as("code"))),

    "q_embed_dup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(emb(s, dir), threshold = 0.5, maxId = 300)),

    // the scale path: exact cosine only within sign-buckets (equi-join
    // blocking) over the WHOLE table — no crossJoin, no id cap
    "q_embed_dup_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairsBlocked(emb(s, dir), threshold = 0.2,
        nPlanes = 4, dims = 64)),

    "q_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    // deterministic hash sampling — the reproducible train/eval split
    // primitive: a doc is in the p% sample iff a salted md5-derived
    // hash of its id lands under p; stable across runs, engines and
    // partitionings (never rand()/TABLESAMPLE)
    "q_sample" -> ((s, dir) =>
      docs(s, dir).where(
        conv(substring(md5(concat(lit("smp"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 100 < 10)
        .select(col("doc_id"))),

    // stratified deterministic sampling: bottom-k by salted hash per
    // stratum (uniform without replacement, reproducible across runs,
    // engines and partitionings). Two-level: bottom-k inside each of
    // 64 hash buckets in parallel, then bottom-k of the 64*k
    // survivors — identical output to one stratum-wide sort, but no
    // 100 TB stratum ever sorts inside a single task
    "q_sample_stratified" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 25
      val h = conv(substring(md5(concat(lit("strat"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long")
      val base = docs(s, dir).select(col("source"), col("doc_id"), h.as("h"))
        .withColumn("b", pmod(col("h"), lit(64L)))
      val w1 = Window.partitionBy("source", "b").orderBy(col("h"), col("doc_id"))
      val w2 = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      base.withColumn("r1", row_number().over(w1)).where(col("r1") <= k)
        .withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
    }),

    // sliding-window chunking with overlap (window 512, stride 448 =
    // 64-token overlap) — the RAG/pretraining chunker as a pure
    // map-side explode: 1-based inclusive token offsets per chunk,
    // last chunk clipped to the doc. Zero shuffles.
    "q_chunk_overlap" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0L), expr("(n_tokens - 1) div 448"))).as("ci"))
        .select(col("doc_id"), col("ci").as("chunk_idx"),
          (col("ci") * 448 + 1).as("chunk_start"),
          least(col("ci") * 448 + 512, col("n_tokens")).as("chunk_end"))),

    // vocabulary building: global token frequencies with a count
    // floor — one explode + one hash aggregation, map-side combined
    "q_vocab" -> ((s, dir) =>
      docs(s, dir).select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .where(col("n") >= 10)),

    // keyword extraction: top-3 distinguishing terms per doc ranked
    // by (global rarity asc, in-doc frequency desc) — integer-only
    // tf-idf. The document-frequency table is vocabulary-sized, so it
    // BROADCASTS; the only corpus-sized shuffles are the tf
    // aggregation and the per-doc window
    "q_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // (r7) tf already holds one row per (doc, term), so the document
      // frequency is a row count per term OVER TF — the second
      // tokenize + distinct pass of the corpus is gone; tf feeds both
      // consumers through one lazy materialization
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("df"), col("tf").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("rnk").cast("long").as("rnk"))
    }),

    // repetition scoring (the Gopher-style duplicate n-gram ratio):
    // ppm of character 3-grams that are repeats of an earlier gram.
    // (r7) Pure map-side: the distinct-gram count runs over the doc's
    // own gram array (array_distinct of a transform over positions),
    // so the explode + distinct + groupBy + self-join — two exchanges
    // to compute a per-doc statistic — collapses to ZERO exchanges
    // (guide §2.4). Same gram set (truncated gram for short texts
    // included) and exact distinct over gram TEXT, so counts match
    // the oracle's distinct-substr aggregation bit for bit. A null-text
    // doc keeps its row: greatest() skips the NULL length, so it has
    // one NULL gram and rep_ppm 0, as in the oracle.
    "q_repetition" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          greatest(length(col("text")) - 2, lit(1)).cast("long").as("n_total"),
          size(array_distinct(transform(
            sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
            i => col("text").substr(i, lit(3))))).cast("long").as("n_distinct"))
        .select(col("doc_id"),
          expr("(n_total - n_distinct) * 1000000 div n_total").as("rep_ppm"))),

    // exact interpolated quantiles of doc length per source — the
    // length-filter calibration aggregate (Spark percentile ==
    // DuckDB quantile_cont, both index p*(n-1) linear interpolation)
    "q_percentile" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tokens, 0.9)"), 6).as("p90"))),

    // exact substring duplication across documents (the Lee et al.
    // "Deduplicating Training Data Makes Language Models Better"
    // primitive): character 20-grams appearing in more than one doc,
    // with the doc-id range of the duplication. One explode + one
    // hash aggregation; the gram is hashed to a 60-bit md5 key
    // MAP-SIDE, so every exchange carries 8 bytes, never gram text
    "q_dup_spans" -> ((s, dir) =>
      TextDedup.charShingleHashes(
          spread(docs(s, dir).where(col("doc_id") < 500)), 20, fullOnly = true,
          hash = "md5")
        .groupBy("gram_hash").agg(
          count(lit(1)).as("n_docs"), // rows are distinct (doc, hash)
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .where(col("n_docs") >= 2)),

    // maximal duplicated spans: the per-doc char ranges a span-level
    // dedup cuts — duplicated 20-grams sessionized into merged
    // intervals (per-doc windows only; 8-byte gram hashes on every
    // detection exchange)
    "q_dup_span_merge" -> ((s, dir) =>
      TextDedup.dupSpanRanges(spread(docs(s, dir).where(col("doc_id") < 500)),
        20, hash = "md5")),

    // benchmark decontamination: training docs sharing any character
    // 13-gram with a held-out eval set (synthetic: doc_id % 97 == 0)
    // are flagged with their shared-gram count. Equi-join on the
    // 60-bit gram hash (hashed map-side; the eval side is the small
    // broadcast build side), never a pairwise comparison — the shape
    // used to decontaminate web-scale corpora against eval suites
    // (r7) train side: gram hashing fans out over the cores (spread),
    // the broadcast semi-join filters BEFORE the (doc, hash) distinct
    // so the exchange carries only matching grams, and the per-doc
    // distinct happens after — provably the same n_shared_grams
    // (the semi-join only drops rows by gram_hash, which commutes
    // with the distinct; guide §2.3 "shuffle fewer bytes")
    "q_decontaminate" -> ((s, dir) => {
      val n = 13
      val train = spread(docs(s, dir)
        .where(col("doc_id") % 97 =!= 0 && col("doc_id") < 2000))
      val benchHashes = TextDedup.charShingleHashes(
          docs(s, dir).where(col("doc_id") % 97 === 0), n, hash = "md5",
          dedup = false)
        .select("gram_hash").distinct()
      TextDedup.charShingleHashes(train, n, hash = "md5", dedup = false)
        .join(benchHashes, Seq("gram_hash"), "left_semi")
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    }),

    // the production hash mode under the same gate: xxhash64 gram keys
    // (codegen'd, no hex round-trip — the md5 mode costs ~2x scan CPU).
    // DuckDB cannot derive xxhash64, so the oracle checks the JOIN
    // SEMANTICS over exact gram strings instead; equality holds unless
    // xxhash64 collides on the corpus (~1e-6 at this scale, and
    // deterministic for fixed data)
    "q_decontaminate_xxh" -> ((s, dir) => {
      val n = 13
      val train = spread(docs(s, dir)
        .where(col("doc_id") % 97 =!= 0 && col("doc_id") < 2000))
      val benchHashes = TextDedup.charShingleHashes(
          docs(s, dir).where(col("doc_id") % 97 === 0), n, dedup = false)
        .select("gram_hash").distinct()
      TextDedup.charShingleHashes(train, n, dedup = false)
        .join(benchHashes, Seq("gram_hash"), "left_semi")
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    }),

    // whole-corpus decontamination: train = EVERY non-eval doc (no id
    // cap) — the shape users actually run. Same broadcast left_semi on
    // the 8-byte gram hash (md5 mode so the DuckDB oracle derives
    // bit-identical keys; library callers get xxhash64 by default)
    "q_decontaminate_full" -> ((s, dir) => {
      val n = 13
      val train = spread(docs(s, dir).where(col("doc_id") % 97 =!= 0))
      val benchHashes = TextDedup.charShingleHashes(
          docs(s, dir).where(col("doc_id") % 97 === 0), n, hash = "md5",
          dedup = false)
        .select("gram_hash").distinct()
      TextDedup.charShingleHashes(train, n, hash = "md5", dedup = false)
        .join(benchHashes, Seq("gram_hash"), "left_semi")
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    }),

    // sequence packing / chunked concatenation for LM training:
    // global token offsets via a two-level distributed scan (the
    // ordered window runs over id-range bucket AGGREGATES, never over
    // the corpus), then fixed-capacity chunk spans
    "q_pack" -> ((s, dir) =>
      graft.ops.Packing.tokenOffsets(docs(s, dir),
        size(split(col("text"), " ")), chunkSize = 512L)),

    // cardinality estimation (HyperLogLog++), the dedup/vocab sizing
    // primitive at 100 TB: approx_count_distinct's sketch isn't
    // bit-reproducible across engines, so the query gates the
    // documented error bound instead — the approx per-source token
    // cardinality must sit within 5 relative standard deviations
    // (rsd 0.05 -> +-25%) of the exact distinct count, and the oracle
    // pins that boolean TRUE next to the exact value
    "q_cardinality" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
      toks.groupBy("source").agg(
          count_distinct(col("tok")).as("n_exact"),
          approx_count_distinct(col("tok"), 0.05).as("n_approx"))
        .select(col("source"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") <=
            col("n_exact").cast("double") * 0.25 + 10.0).as("ok_approx"))
    }),

    // approx-percentile twin of q_percentile — the 100 TB calibration
    // path (Spark's GK sketch: bounded memory per group, rank error
    // <= n/accuracy; the exact `percentile` buffers per-group value
    // counts and stays the small-scale oracle baseline). The sketch's
    // result is not bit-reproducible across engines, so the QUERY
    // asserts its own contract: for each source it emits the exact
    // rank window check (#values-below vs n*p within n/accuracy + 2),
    // which the oracle pins to TRUE — a hash-gated accuracy bound, not
    // a hash-gated sketch
    "q_percentile_approx" -> ((s, dir) => {
      val acc = 100 // coarse on purpose: the sketch must actually approximate
      val toks = docs(s, dir).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val approx = toks.groupBy("source").agg(
        expr(s"approx_percentile(n_tokens, 0.5, $acc)").as("a50"),
        expr(s"approx_percentile(n_tokens, 0.9, $acc)").as("a90"),
        count(lit(1)).as("n"))
      val ranks = toks.join(approx, "source").groupBy("source").agg(
        max(col("n")).as("n"),
        sum(when(col("n_tokens") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("n_tokens") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("n_tokens") <= col("a90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("n_tokens") < col("a90"), 1L).otherwise(0L)).as("lt90"))
      def okAt(p: Double, le: Column, lt: Column): Column = {
        val bound = col("n").cast("double") / acc + 2.0
        (le.cast("double") >= col("n") * p - bound) &&
          (lt.cast("double") + 1.0 <= col("n") * p + bound)
      }
      ranks.select(col("source"), col("n"),
        okAt(0.5, col("le50"), col("lt50")).as("ok_p50"),
        okAt(0.9, col("le90"), col("lt90")).as("ok_p90"))
    }),

    "q_quality_metrics" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(docs(s, dir), Stopwords)),

    "q_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir), 5)),

    // multimodal plumbing over the interleaved corpus — md5-derived
    // refs and payloads, so the oracle reconstructs the full decode
    // (spans -> refs -> payload bytes -> stub dimensions) and both
    // queries are hash-gated like every other
    "q_media_extract" -> ((s, dir) =>
      graft.ops.Multimodal.extract(
        graft.model.InterleavedCorpus.fromFlatDocuments(docs(s, dir))).toDF()),

    "q_frame_sample" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.extract(
          graft.model.InterleavedCorpus.fromFlatDocuments(docs(s, dir))).toDF())
        .select(col("doc_id"), col("media_ref"), size(col("sampled_frames")).as("n_sampled"))))

  // ---- oracle SQL ---------------------------------------------------------

  private def bandJoinSql: String = {
    val rpb = 8 // rows per band, matching the catalog query
    val bandEq = (0 until K / rpb).map { b =>
      (0 until rpb).map(r => s"a.mh${b * rpb + r} = b.mh${b * rpb + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val nMatch = (0 until K).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    val sigsSql = minhashSelectSql.replace("FROM documents",
      "FROM documents WHERE doc_id < 2000")
    s"WITH sigs AS ($sigsSql) " +
      s"SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($nMatch AS BIGINT) AS n_match " +
      "FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND (" + bandEq + ")"
  }

  private def simhashSql: String = {
    val sums = (0 until SimBits).map(b =>
      s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
    val pack = (0 until SimBits).map(b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM " +
      s"(SELECT doc_id, $sums FROM $tokSql t GROUP BY doc_id)"
  }

  private def simhashDupSql: String = {
    val bandEq = TextDedup.hammingBands(SimBits, 4).map { case (off, len) =>
      s"((a.simhash >> $off) & ${(1L << len) - 1}) = " +
        s"((b.simhash >> $off) & ${(1L << len) - 1})"
    }.mkString(" OR ")
    val bounded = simhashSql.replace("FROM documents",
      "FROM documents WHERE doc_id < 2000")
    s"WITH s AS ($bounded) " +
      "SELECT id_a, id_b, hamming FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
      s"FROM s a JOIN s b ON a.doc_id < b.doc_id AND ($bandEq)) " +
      "WHERE hamming <= 3"
  }

  // the generate_series TABLE function rejects lateral column bounds,
  // but the scalar list form under unnest() takes them — positions are
  // derived from each text's actual length, no corpus length cap
  private def gramsSql(n: Int, filter: String): String =
    s"(SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), $n) AS gram " +
      s"FROM (SELECT doc_id, text, " +
      s"unnest(generate_series(1, GREATEST(len(text) - ${n - 1}, 1))) AS i " +
      s"FROM documents $filter) d)"

  /** 60-bit md5 hash, the engine's cross-engine-stable shuffle key. */
  private def hash60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Position-preserving 20-gram hashes -> dup set -> per-doc
    * sessionized maximal spans (mirrors TextDedup.dupSpanRanges). */
  private def dupSpanMergeSql: String = {
    val n = 20
    "WITH g AS (SELECT doc_id, i, " + hash60Sql("gram") + " AS gram_hash " +
      s"FROM (SELECT doc_id, i, substr(text, CAST(i AS INT), $n) AS gram " +
      "FROM (SELECT doc_id, text, " +
      s"unnest(generate_series(1, GREATEST(len(text) - ${n - 1}, 1))) AS i " +
      "FROM documents WHERE doc_id < 500) d) e " +
      s"WHERE len(gram) = $n), " +
      "dup AS (SELECT gram_hash FROM (SELECT DISTINCT doc_id, gram_hash FROM g) " +
      "GROUP BY gram_hash HAVING count(*) >= 2), " +
      "p AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram_hash)), " +
      "f AS (SELECT doc_id, i, CASE WHEN " +
      "lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL OR " +
      s"i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $n " +
      "THEN 1 ELSE 0 END AS new_span FROM p), " +
      "s AS (SELECT doc_id, i, SUM(new_span) OVER (" +
      "PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp FROM f) " +
      "SELECT doc_id, MIN(i) AS span_start, " +
      s"MAX(i) + ${n - 1} AS span_end, CAST(COUNT(*) AS BIGINT) AS n_grams " +
      "FROM s GROUP BY doc_id, grp"
  }

  private def ngramJaccardSql: String =
    s"WITH grams AS ${gramsSql(3, "WHERE doc_id < 200")}, " +
      "sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2) " +
      "SELECT id_a, id_b, inter * 1000000 // (sa.sz + sb.sz - inter) AS jaccard_ppm " +
      "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b"

  /** float64 dot product matching Similarity.dot bit-exactly. */
  private def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private def topkSql(k: Int): String =
    "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      cosSql("q.embedding", "c.embedding") + " DESC, c.vec_id) AS rank " +
      "FROM embeddings q, embeddings c " +
      s"WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rank <= $k"

  private def bucketSql(v: String, nPlanes: Int = 8): String =
    (0 until nPlanes).map { p =>
      val plane = (0 until 64).map(d =>
        Similarity.planeComponent(p, d, 64).toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(v, s"$plane::DOUBLE[]")} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def annLshSql: String =
    "WITH b AS (SELECT vec_id, embedding, " + bucketSql("embedding") +
      " AS bucket FROM embeddings) " +
      "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      cosSql("q.embedding", "c.embedding") + " DESC, c.vec_id) AS rank " +
      "FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 " +
      "AND c.vec_id <> q.vec_id) WHERE rank <= 3"

  private def ivfSql: String =
    "SELECT vec_id, centroid_id FROM (" +
      "SELECT v.vec_id, c.vec_id AS centroid_id, " +
      "row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      dotSql("v.embedding", "c.embedding") + " DESC, c.vec_id) AS rn " +
      "FROM embeddings v, embeddings c WHERE c.vec_id < 16) WHERE rn = 1"

  private def embedDupSql: String =
    "SELECT id_a, id_b, round(sim, 6) AS sim FROM (" +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      cosSql("a.embedding", "b.embedding") + " AS sim " +
      "FROM embeddings a, embeddings b " +
      "WHERE a.vec_id < 300 AND b.vec_id < 300 AND a.vec_id < b.vec_id) " +
      "WHERE sim > 0.5"

  private def annMultiProbeSql: String =
    "WITH b AS (SELECT vec_id, embedding, " + bucketSql("embedding") +
      " AS bucket FROM embeddings), " +
      "q AS (SELECT vec_id, embedding, xor(bucket, f) AS bucket " +
      "FROM b, (VALUES (0), (1), (2)) flips(f) WHERE vec_id < 10), " +
      "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "max(" + cosSql("q.embedding", "c.embedding") + ") AS sim " +
      "FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id " +
      "GROUP BY 1, 2) " +
      "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT query_id, neighbor_id, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank " +
      "FROM scored) WHERE rank <= 3"

  private def ivfSearchSql: String =
    "WITH cents AS (SELECT vec_id AS centroid_id, embedding AS centv " +
      "FROM embeddings WHERE vec_id < 16), " +
      "lists AS (SELECT neighbor_id, cv, centroid_id FROM (" +
      "SELECT v.vec_id AS neighbor_id, v.embedding AS cv, c.centroid_id, " +
      "row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      dotSql("v.embedding", "c.centv") + " DESC, c.centroid_id) AS rn " +
      "FROM embeddings v, cents c) WHERE rn = 1), " +
      "probes AS (SELECT query_id, qv, centroid_id FROM (" +
      "SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      dotSql("q.embedding", "c.centv") + " DESC, c.centroid_id) AS rn " +
      "FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 2), " +
      "scored AS (SELECT query_id, neighbor_id, " +
      "max(" + cosSql("p.qv", "l.cv") + ") AS sim " +
      "FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id " +
      "AND l.neighbor_id <> p.query_id GROUP BY 1, 2) " +
      "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT query_id, neighbor_id, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank " +
      "FROM scored) WHERE rank <= 3"

  /** Full Lloyd-rounds reconstruction of q_ivf_search_trained:
    * normalize -> 2 unrolled assign/update rounds (BIGINT-exact
    * per-dimension sums, float64 renormalize) -> lists/probes/top-k.
    * Every float64 step is order-fixed, so the hashes match Spark's. */
  private def ivfTrainedSql: String = {
    val dims = 64
    val kC = 8
    val scale = "1048576.0" // 2^20, matches Similarity.ivfSearchTrained
    val sumCols = (0 until dims).map(d =>
      s"SUM(CAST(round(nv[${d + 1}] * $scale) AS BIGINT)) AS s$d").mkString(", ")
    val svList = (0 until dims).map(d => s"CAST(s$d AS DOUBLE)").mkString("[", ", ", "]")
    def lloydRound(prev: String, i: Int): String =
      s"a$i AS (SELECT vec_id, nv, centroid_id FROM (" +
        s"SELECT v.vec_id, v.nv, c.centroid_id, row_number() OVER (" +
        "PARTITION BY v.vec_id ORDER BY list_dot_product(v.nv, c.centroid) DESC, " +
        s"c.centroid_id) AS rn FROM nv v, $prev c) WHERE rn = 1), " +
        s"s$i AS (SELECT centroid_id, $sumCols FROM a$i GROUP BY centroid_id), " +
        s"v$i AS (SELECT centroid_id, $svList AS sv FROM s$i), " +
        s"c$i AS (SELECT centroid_id, list_transform(sv, " +
        "x -> x / sqrt(list_dot_product(sv, sv))) AS centroid " +
        s"FROM v$i WHERE sqrt(list_dot_product(sv, sv)) > 0), "
    "WITH nv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
      s"x -> x / sqrt(${dotSql("embedding", "embedding")})) AS nv FROM embeddings), " +
      s"c0 AS (SELECT vec_id AS centroid_id, nv AS centroid FROM nv WHERE vec_id < $kC), " +
      lloydRound("c0", 1) + lloydRound("c1", 2) +
      "lists AS (SELECT neighbor_id, cv, centroid_id FROM (" +
      "SELECT v.vec_id AS neighbor_id, v.embedding AS cv, c.centroid_id, " +
      "row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      "list_dot_product(CAST(v.embedding AS DOUBLE[]), c.centroid) DESC, " +
      "c.centroid_id) AS rn FROM embeddings v, c2 c) WHERE rn = 1), " +
      "probes AS (SELECT query_id, qv, centroid_id FROM (" +
      "SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_dot_product(CAST(q.embedding AS DOUBLE[]), c.centroid) DESC, " +
      "c.centroid_id) AS rn FROM embeddings q, c2 c WHERE q.vec_id < 10) " +
      "WHERE rn <= 2), " +
      "scored AS (SELECT query_id, neighbor_id, " +
      "max(" + cosSql("p.qv", "l.cv") + ") AS sim " +
      "FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id " +
      "AND l.neighbor_id <> p.query_id GROUP BY 1, 2) " +
      "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT query_id, neighbor_id, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank " +
      "FROM scored) WHERE rank <= 3"
  }

  /** Shared PQ CTE bodies: `sub` = the codebook (subspace j, index
    * idx, 8-dim subvector = slice of the first-16 vectors, like
    * Similarity.pqCodebooks) and `codes` = each vector's per-subspace
    * argmax index (highest float64 sub-dot, ties to lowest index). */
  private def pqCtesSql: String = {
    val m = 8; val sub = 8; val kSub = 16
    def sliceSql(v: String, j: String) =
      s"(CAST($v AS DOUBLE[]))[($j*$sub+1):($j*$sub+$sub)]"
    s"sub AS (SELECT j, row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS idx, " +
      s"${sliceSql("embedding", "j")} AS bv " +
      s"FROM embeddings, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js " +
      s"WHERE vec_id < $kSub), " +
      "codes AS (SELECT vec_id, j, idx FROM (" +
      "SELECT v.vec_id, s.j, s.idx, row_number() OVER (PARTITION BY v.vec_id, s.j " +
      s"ORDER BY list_dot_product(${sliceSql("v.embedding", "s.j")}, s.bv) DESC, s.idx) AS rn " +
      "FROM embeddings v, sub s) WHERE rn = 1)"
  }

  private def pqCodesSql: String =
    s"WITH $pqCtesSql " +
      "SELECT vec_id, CAST(SUM(idx << (4 * j)) AS BIGINT) AS pq_code " +
      "FROM codes GROUP BY vec_id"

  private def ivfPqSearchSql: String =
    s"WITH $pqCtesSql, " +
      "recon AS (SELECT c.vec_id, flatten(list(s.bv ORDER BY c.j)) AS rv " +
      "FROM codes c JOIN sub s ON s.j = c.j AND s.idx = c.idx GROUP BY c.vec_id), " +
      "cents AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centv " +
      "FROM embeddings WHERE vec_id < 8), " +
      "lists AS (SELECT neighbor_id, centroid_id FROM (" +
      "SELECT v.vec_id AS neighbor_id, c.centroid_id, " +
      "row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      dotSql("v.embedding", "c.centv") + " DESC, c.centroid_id) AS rn " +
      "FROM embeddings v, cents c) WHERE rn = 1), " +
      "probes AS (SELECT query_id, qv, centroid_id FROM (" +
      "SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.centroid_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      dotSql("q.embedding", "c.centv") + " DESC, c.centroid_id) AS rn " +
      "FROM embeddings q, cents c WHERE q.vec_id < 10) WHERE rn <= 2), " +
      "scored AS (SELECT query_id, neighbor_id, " +
      "max(list_dot_product(p.qv, r.rv)) AS score " +
      "FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id " +
      "AND l.neighbor_id <> p.query_id " +
      "JOIN recon r ON r.vec_id = l.neighbor_id GROUP BY 1, 2) " +
      "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (" +
      "SELECT query_id, neighbor_id, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank " +
      "FROM scored) WHERE rank <= 3"

  private def annRecallSql: String =
    s"WITH truth AS (${topkSql(3)}), approx AS ($ivfSearchSql) " +
      "SELECT t.query_id, CAST((100 * count(a.neighbor_id)) // 3 AS BIGINT) AS recall_pct " +
      "FROM truth t LEFT JOIN approx a ON a.query_id = t.query_id " +
      "AND a.neighbor_id = t.neighbor_id GROUP BY t.query_id"

  private def embedDupLshSql: String =
    "WITH b AS (SELECT vec_id, embedding, " + bucketSql("embedding", 4) +
      " AS bucket FROM embeddings) " +
      "SELECT id_a, id_b, round(sim, 6) AS sim FROM (" +
      "SELECT a.vec_id AS id_a, b2.vec_id AS id_b, " +
      cosSql("a.embedding", "b2.embedding") + " AS sim " +
      "FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id) " +
      "WHERE sim > 0.2"

  private def langIdSql: String = {
    val scores = TextAnalysis.LangProfiles.map { case (name, words) =>
      val set = words.map(w => s"'$w'").mkString("(", ", ", ")")
      name -> s"len(list_filter(string_split(text, ' '), t -> t IN $set))"
    }
    val best = s"GREATEST(${scores.map(_._2).mkString(", ")})"
    // first profile wins ties, matching the Scala fold order
    val cases = scores.map { case (name, sc) =>
      s"WHEN $sc = best AND best > 0 THEN '$name'"
    }.mkString(" ")
    s"SELECT doc_id, CASE $cases ELSE 'unknown' END AS lang_pred " +
      s"FROM (SELECT doc_id, text, $best AS best FROM documents)"
  }

  private def qualitySql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    "WITH tl AS (SELECT doc_id, tok, count(*) AS n FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "GROUP BY doc_id, tok) " +
      "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, " +
      // CAST each ppm to BIGINT: DuckDB sums BIGINT into HUGEINT, and the
      // driver's hasher distinguishes int128 from Spark's int64
      "CAST(sum(len(tok) * n) * 1000000 // sum(n) AS BIGINT) AS mean_len_ppm, " +
      s"CAST(sum(CASE WHEN tok IN $stop THEN n ELSE 0 END) * 1000000 // sum(n) AS BIGINT) AS stop_ppm, " +
      "CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS repeat_ppm " +
      "FROM tl GROUP BY doc_id"
  }

  private def fingerprintSql: String =
    s"SELECT doc_id, min(${TextDedup.tokenHashSql("gram")}) AS fingerprint " +
      s"FROM ${gramsSql(5, "")} g GROUP BY doc_id"

  // transitive closure via recursive CTE; component keeper = smallest
  // reachable id (LEAST with self covers isolated-pair minima)
  private def dedupCcSql: String =
    s"WITH RECURSIVE p AS ($bandJoinSql), " +
      "sym AS (SELECT id_a AS a, id_b AS b FROM p WHERE n_match >= 12 " +
      "UNION ALL SELECT id_b, id_a FROM p WHERE n_match >= 12), " +
      "reach(a, b) AS (SELECT a, b FROM sym " +
      "UNION SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a) " +
      "SELECT a AS doc_id, LEAST(min(b), a) AS keeper_id, " +
      "LEAST(min(b), a) < a AS is_dup FROM reach GROUP BY a"

  private def dedupNearSql: String =
    s"WITH p AS ($bandJoinSql), " +
      "sym AS (SELECT id_a AS doc_id, id_b AS partner FROM p WHERE n_match >= 12 " +
      "UNION ALL SELECT id_b, id_a FROM p WHERE n_match >= 12) " +
      "SELECT doc_id, keeper_id, keeper_id < doc_id AS is_dup FROM (" +
      "SELECT doc_id, LEAST(min(partner), doc_id) AS keeper_id FROM sym GROUP BY doc_id)"

  private def sampleSql: String =
    "SELECT doc_id FROM documents WHERE " +
      "CAST(('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) " +
      "% 100 < 10"

  /** One stratum-wide window — the small-scale reference for the
    * engine's two-level bucket formulation (identical output: the
    * stratum bottom-k is inside every bucket's bottom-k). */
  private def sampleStratifiedSql: String =
    "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (" +
      "SELECT source, doc_id, row_number() OVER (" +
      "PARTITION BY source ORDER BY h, doc_id) AS rk FROM (" +
      "SELECT source, doc_id, " +
      "CAST(('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
      "FROM documents)) WHERE rk <= 25"

  private def vocabSql: String =
    "SELECT tok, CAST(count(*) AS BIGINT) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "GROUP BY tok HAVING count(*) >= 10"

  private def repetitionSql: String =
    s"WITH d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct " +
      s"FROM ${gramsSql(3, "")} g GROUP BY doc_id), " +
      "t AS (SELECT doc_id, CAST(GREATEST(len(text) - 2, 1) AS BIGINT) AS n_total " +
      "FROM documents) " +
      "SELECT t.doc_id, (n_total - n_distinct) * 1000000 // n_total AS rep_ppm " +
      "FROM t JOIN d ON t.doc_id = d.doc_id"

  // ---- media oracle: reconstruct spans arithmetically (id%7+1 spans,
  // 10-way kind code), md5-derived refs, payload byte k = hex pair k of
  // md5(ref), then the exact stub-decode formulas of Multimodal
  private val mediaSpanSql: String =
    "(SELECT doc_id AS nid, CAST(g.i AS INTEGER) AS i, " +
      "(doc_id * 31 + g.i * 17) % 10 AS code " +
      "FROM documents, generate_series(0, 6) g(i) WHERE g.i <= doc_id % 7)"

  private def u8(k: Int): String =
    s"CAST(('0x' || substr(h, ${2 * k + 1}, 2)) AS INTEGER)"

  private def mediaDecodedSql: String =
    s"WITH sp AS $mediaSpanSql, " +
      "m AS (SELECT nid, i, " +
      "CASE WHEN code <= 7 THEN 'image' WHEN code = 8 THEN 'audio' ELSE 'video' END AS kind, " +
      "'m:' || substr(md5('m' || CAST(nid AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 16) AS media_ref " +
      "FROM sp WHERE code > 5), " +
      "d AS (SELECT nid, i, kind, media_ref, md5(media_ref) AS h FROM m) " +
      "SELECT printf('d%012d', nid) AS doc_id, media_ref, kind, i AS offset, " +
      s"CAST(CASE WHEN kind = 'image' THEN 160 + (${u8(0)} * 256 + ${u8(1)}) % 1760 " +
      s"WHEN kind = 'video' THEN 320 + ${u8(0)} % 1600 ELSE 0 END AS INTEGER) AS width, " +
      s"CAST(CASE WHEN kind = 'image' THEN 120 + (${u8(2)} * 256 + ${u8(3)}) % 1000 " +
      s"WHEN kind = 'video' THEN 240 + ${u8(1)} * 4 ELSE 0 END AS INTEGER) AS height, " +
      s"CAST(CASE WHEN kind = 'image' THEN 1 " +
      s"WHEN kind = 'video' THEN 25 * (1 + ${u8(4)} % 240) ELSE 0 END AS INTEGER) AS n_frames, " +
      s"CAST(CASE WHEN kind = 'audio' THEN 8000 * (1 + ${u8(5)} % 6) ELSE 0 END AS INTEGER) AS sample_rate " +
      "FROM d"

  private def frameSampleSql: String =
    s"SELECT doc_id, media_ref, CAST((n_frames - 1) // 25 + 1 AS INTEGER) AS n_sampled " +
      s"FROM ($mediaDecodedSql) WHERE kind = 'video'"

  private def percentileSql: String =
    "SELECT source, round(quantile_cont(n_tokens, 0.5), 6) AS p50, " +
      "round(quantile_cont(n_tokens, 0.9), 6) AS p90 FROM " +
      "(SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM documents) GROUP BY source"

  val oracles: Map[String, String] = Map(
    "q_sample" -> sampleSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_chunk_overlap" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
        "AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, " +
        "unnest(generate_series(0, (n_tokens - 1) // 448)) AS ci FROM t) " +
        "SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, " +
        "CAST(ci * 448 + 1 AS BIGINT) AS chunk_start, " +
        "CAST(LEAST(ci * 448 + 512, n_tokens) AS BIGINT) AS chunk_end FROM c"),
    "q_vocab" -> vocabSql,
    "q_repetition" -> repetitionSql,
    "q_percentile" -> percentileSql,
    "q_pack" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "o AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS start_offset FROM t) " +
        "SELECT doc_id, n_tokens, start_offset, " +
        "CAST(start_offset // 512 AS BIGINT) AS chunk_start, " +
        "CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS chunk_end FROM o"),
    "q_cardinality" ->
      ("SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact, " +
        "TRUE AS ok_approx FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY source"),
    "q_percentile_approx" ->
      ("SELECT source, CAST(count(*) AS BIGINT) AS n, " +
        "TRUE AS ok_p50, TRUE AS ok_p90 FROM documents GROUP BY source"),
    "q_minhash" -> minhashSelectSql,
    "q_lsh_pairs" -> bandJoinSql,
    "q_dedup_near" -> dedupNearSql,
    "q_dedup_cc" -> dedupCcSql,
    "q_dedup_cc_stars" -> dedupCcSql,
    "q_simhash" -> simhashSql,
    "q_simhash_dup" -> simhashDupSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_cosine_topk" -> topkSql(5),
    "q_ann_lsh" -> annLshSql,
    "q_ivf_assign" -> ivfSql,
    "q_ann_multiprobe" -> annMultiProbeSql,
    "q_ivf_search" -> ivfSearchSql,
    "q_ivf_search_trained" -> ivfTrainedSql,
    "q_pq_codes" -> pqCodesSql,
    "q_ivfpq_search" -> ivfPqSearchSql,
    "q_ann_recall" -> annRecallSql,
    "q_embed_dup" -> embedDupSql,
    "q_embed_dup_lsh" -> embedDupLshSql,
    "q_langid" -> langIdSql,
    "q_quality_metrics" -> qualitySql,
    "q_fingerprint" -> fingerprintSql,
    "q_dup_spans" ->
      (s"WITH g AS (SELECT DISTINCT doc_id, ${hash60Sql("gram")} AS gram_hash " +
        s"FROM ${gramsSql(20, "WHERE doc_id < 500")} gr WHERE len(gram) = 20) " +
        "SELECT gram_hash, CAST(count(*) AS BIGINT) AS n_docs, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        "FROM g GROUP BY gram_hash HAVING count(*) >= 2"),
    "q_decontaminate" ->
      (s"WITH bench AS (SELECT DISTINCT ${hash60Sql("gram")} AS gram_hash FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 = 0")} b), " +
        s"train AS (SELECT DISTINCT doc_id, ${hash60Sql("gram")} AS gram_hash FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 <> 0 AND doc_id < 2000")} t) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM train WHERE gram_hash IN (SELECT gram_hash FROM bench) GROUP BY doc_id"),
    "q_decontaminate_xxh" ->
      (s"WITH bench AS (SELECT DISTINCT gram FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 = 0")} b), " +
        s"train AS (SELECT DISTINCT doc_id, gram FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 <> 0 AND doc_id < 2000")} t) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM train WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id"),
    "q_decontaminate_full" ->
      (s"WITH bench AS (SELECT DISTINCT ${hash60Sql("gram")} AS gram_hash FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 = 0")} b), " +
        s"train AS (SELECT DISTINCT doc_id, ${hash60Sql("gram")} AS gram_hash FROM " +
        s"${gramsSql(13, "WHERE doc_id % 97 <> 0")} t) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM train WHERE gram_hash IN (SELECT gram_hash FROM bench) GROUP BY doc_id"),
    "q_dup_span_merge" -> dupSpanMergeSql,
    "q_embed_int8" ->
      ("SELECT vec_id, CAST(d AS BIGINT) AS d, " +
        "CAST(round(l[CAST(d AS INT)] / scale * 127) AS BIGINT) AS code FROM (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l, " +
        "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale " +
        "FROM embeddings) t, " +
        "(SELECT unnest(generate_series(1, 64)) AS d) ds WHERE scale > 0"),
    "q_top_terms" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf " +
        "FROM toks GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM (" +
        "SELECT DISTINCT doc_id, term FROM toks) GROUP BY term) " +
        "SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk FROM (" +
        "SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, row_number() OVER (" +
        "PARTITION BY tf.doc_id ORDER BY dfreq.df, tf.tf DESC, tf.term) AS rnk " +
        "FROM tf JOIN dfreq USING (term)) WHERE rnk <= 3"),
    "q_media_extract" -> mediaDecodedSql,
    "q_frame_sample" -> frameSampleSql)
}
