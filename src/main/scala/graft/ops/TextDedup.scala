package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Deduplication operators for large text corpora: exact, MinHash+LSH,
 * SimHash and n-gram Jaccard. Signature hashing goes through md5 ->
 * 60-bit int so the same arithmetic is expressible in the DuckDB
 * oracle; the gram-shingle operators take a `hash` mode that defaults
 * to the cheaper codegen'd xxhash64 for production use, with "md5"
 * pinned by the oracle-gated catalog — same plan shape either way.
 *
 * Scale notes: every operator is a hash-partitioned aggregation or an
 * equi-join on a derived key — no driver-side state. The LSH pair
 * join is the scale path for near-dup detection: candidate pairs come
 * from an equi-join on (band, band-signature), never a cross join.
 */
object TextDedup {

  /** 2^31 - 1, the classic MinHash modulus prime. */
  val P: Long = 2147483647L

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** 60-bit token hash via md5 (DuckDB-reproducible), reduced mod P.
    * Digest-direct kernel ([[graft.functions.Md5Hash60Expr]]) — bit-
    * identical to the conv(substr(md5)) chain it replaces (spec-gated
    * in GramHashSpec), without the hex/decimal string round-trips. */
  def tokenHash(t: Column): Column =
    graft.functions.Md5Hash60Expr.md5Hash60(t) % P

  /** SQL text of the same token hash. */
  def tokenHashSql(t: String): String =
    s"(CAST(('0x' || substr(md5($t), 1, 15)) AS BIGINT) % $P)"

  /** Deterministic MinHash permutation constants (a_i odd, b_i). */
  def perm(i: Int): (Long, Long) =
    (((2L * i + 1) * 2654435761L) % P, ((i + 1) * 40503L) % P)

  /**
   * MinHash signatures: `doc_id, mh0 .. mh{k-1}` where
   * `mh_i = min over tokens of (a_i * h + b_i) % P`.
   *
   * (r7) Pure MAP-SIDE projection: the per-doc minimum runs over the
   * doc's own token array (`array_min` over a `transform`), so the
   * operator has ZERO exchanges — the explode + groupBy formulation
   * it replaces shuffled one row per (doc, token) only to compute a
   * per-doc aggregate (guide §2.4: remove shuffles outright). Values
   * are identical: min over the distinct-token hash array is min over
   * the exploded rows, and the `isNotNull` guard reproduces the old
   * formulation's null-text behavior (explode of null emitted no row,
   * so null-text docs never appeared).
   */
  def minhashSignatures(docs: DataFrame, k: Int = 16,
                        id: String = "doc_id", text: String = "text"): DataFrame = {
    val hs = transform(array_distinct(tokens(col(text))), t => tokenHash(t))
    val mins = (0 until k).map { i =>
      val (a, b) = perm(i)
      array_min(transform(col("__th"), h => (h * a + b) % P)).as(s"mh$i")
    }
    docs.where(col(text).isNotNull)
      .select(col(id), hs.as("__th"))
      .select(col(id) +: mins: _*)
  }

  /**
   * LSH candidate pairs: two docs are candidates iff they agree on at
   * least one band of `rowsPerBand` consecutive signature components.
   * Implemented as explode(bands) -> self-equi-join on the band key —
   * the candidate set is found by hash partitioning, so cost scales
   * with bucket sizes, not with the number of document pairs.
   *
   * The full signature struct rides through the band explode, so
   * n_match is computed inside the band join itself (no signature
   * re-joins) and the multi-band duplicates collapse in one
   * aggregation. `maxBucket` guards the quadratic escape hatch: a
   * band bucket larger than the cap (a cluster of near-identical
   * docs) is dropped from candidate generation — the analog of the
   * reference's per-grid-cell candidate-test cap
   * (`/root/reference/src/uk/me/parabola/splitter/AreaGrid.java:60`
   * MAX_TESTS). Use `oversizedBandBuckets` to audit what a given cap
   * would drop. Returns (id_a, id_b, n_matching_components of k).
   */
  def lshCandidatePairs(sigs: DataFrame, k: Int = 16, rowsPerBand: Int = 2,
                        id: String = "doc_id",
                        maxBucket: Int = 100000): DataFrame = {
    // the banded frame feeds the bucket-size guard AND both self-join
    // sides; a lazy local checkpoint materializes the upstream
    // tokenize+minhash aggregation ONCE instead of three times (the
    // signatures are tiny next to the text they summarize: k longs
    // per doc vs the document body)
    val banded = bandedSignatures(sigs, k, rowsPerBand, id)
      .localCheckpoint(false)
    // (r7) the bucket-size guard is a windowed count over the SAME
    // (band, key) exchange the candidate self-join needs — the
    // aggregate-then-join formulation it replaces computed the bucket
    // sizes as a separate aggregation and joined them back (one more
    // join operator over the same partitioning; identical kept rows:
    // a row survives iff its (band, key) bucket count <= maxBucket)
    val pruned =
      if (maxBucket == Int.MaxValue) banded
      else {
        import org.apache.spark.sql.expressions.Window
        banded.withColumn("bucket_n",
            count(lit(1)).over(Window.partitionBy("band", "key")))
          .where(col("bucket_n") <= maxBucket)
          .drop("bucket_n")
      }
    val a = pruned.select(col(id).as("id_a"), col("sig").as("sig_a"),
      col("band"), col("key"))
    val b = pruned.select(col(id).as("id_b"), col("sig").as("sig_b"),
      col("band"), col("key"))
    val matchCount = (0 until k).map(i =>
      when(col(s"sig_a.mh$i") === col(s"sig_b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), matchCount.cast("long").as("n_match"))
      // a pair found in several bands has the same n_match everywhere;
      // max() collapses the duplicates in one hash aggregation
      .groupBy("id_a", "id_b").agg(max(col("n_match")).as("n_match"))
  }

  /** (id, sig, band, key) rows: one per (doc, band), carrying the full
    * signature struct so downstream joins need no signature lookup. */
  private def bandedSignatures(sigs: DataFrame, k: Int, rowsPerBand: Int,
                               id: String): DataFrame = {
    val nBands = k / rowsPerBand
    val sigStruct = struct((0 until k).map(i => col(s"mh$i")): _*).as("sig")
    val bands = explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}").as(s"k$r")): _*).as("key"))
    }: _*)).as("bk")
    sigs.select(col(id), sigStruct, bands)
      .select(col(id), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Audit helper: band buckets a given cap would drop, with sizes —
    * run eagerly and log before a production dedup pass. */
  def oversizedBandBuckets(sigs: DataFrame, k: Int = 16, rowsPerBand: Int = 2,
                           id: String = "doc_id", maxBucket: Int = 100000): DataFrame =
    bandedSignatures(sigs, k, rowsPerBand, id)
      .groupBy("band", "key").agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)

  /**
   * 62-bit SimHash: for each bit b, sum +1/-1 over token hashes'
   * bit b; the fingerprint sets bit b iff the sum is positive.
   * (62 bits, not 64, so the packed value stays in a signed 64-bit
   * range in every SQL engine.) One explode + one aggregation with
   * 62 sum expressions — map-side combined, skew-free.
   */
  def simhash(docs: DataFrame, bits: Int = 62,
              id: String = "doc_id", text: String = "text"): DataFrame = {
    // (r7) map-side fold over the doc's own distinct-token hash array
    // (codegen'd SimhashFoldExpr): same +-1-per-bit arithmetic as the
    // explode + 62-sum groupBy it replaces, with ZERO exchanges
    // (guide §2.4). isNotNull reproduces the old null-text drop.
    val hs = transform(array_distinct(tokens(col(text))), t => tokenHash(t))
    docs.where(col(text).isNotNull)
      .select(col(id),
        graft.functions.SimhashFoldExpr.simhashFold(hs, bits).as("simhash"))
  }

  /** Hamming distance between two SimHash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Disjoint covering bit-bands (offset, length) for Hamming-LSH
    * blocking: `nBands` bands over `bits` bits, remainder spread over
    * the first bands. With maxHamming < nBands, the pigeonhole
    * principle guarantees two fingerprints within maxHamming agree on
    * at least one full band. */
  def hammingBands(bits: Int, nBands: Int): Seq[(Int, Int)] = {
    val base = bits / nBands
    val rem = bits % nBands
    val lens = (0 until nBands).map(b => base + (if (b < rem) 1 else 0))
    lens.scanLeft(0)(_ + _).zip(lens)
  }

  /**
   * SimHash near-duplicate pairs by Hamming-band blocking: candidates
   * are pairs agreeing on at least one of `nBands` disjoint bit-bands
   * of the fingerprint (equi-join on (band, value) after a band
   * explode — exact recall for hamming <= nBands - 1 by pigeonhole),
   * verified with the exact popcount distance. Same scale shape as
   * the MinHash band join: cost follows band-bucket sizes, never the
   * number of pairs. Returns (id_a, id_b, hamming).
   */
  def simhashNearDupPairs(sigs: DataFrame, bits: Int = 62, nBands: Int = 4,
                          maxHamming: Int = 3,
                          id: String = "doc_id"): DataFrame = {
    require(maxHamming < nBands, "blocking is exact only for maxHamming < nBands")
    val bands = explode(array(hammingBands(bits, nBands).zipWithIndex.map {
      case ((off, len), b) =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), off)
            .bitwiseAND(lit((1L << len) - 1)).as("value"))
    }: _*)).as("bk")
    val banded = sigs.select(col(id), col("simhash"), bands)
      .select(col(id), col("simhash"),
        col("bk.band").as("band"), col("bk.value").as("value"))
      .localCheckpoint(false) // feeds both self-join sides
    val a = banded.select(col(id).as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("value"))
    val b = banded.select(col(id).as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("value"))
    a.join(b, Seq("band", "value"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(max(col("hamming")).as("hamming"))
  }

  /**
   * Connected components over an undirected pair list (id_a, id_b) by
   * iterative min-label propagation with pointer jumping:
   * label(v) <- min(label(v), min over neighbors label(n),
   * label(label(v))) until fixpoint. Returns (id, component_id) for
   * every id that appears in a pair, where component_id is the
   * smallest id in the component — so a chain A-B-C canonicalizes
   * every member to A (idempotent keepers, unlike a 1-hop min-partner
   * rule). Each round is two equi-joins + one aggregation over
   * checkpointed inputs (flat lineage); the label-of-label hop doubles
   * the propagation distance per round, so rounds are
   * O(log longest-path) instead of O(longest-path).
   */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // (r7) materialize the pair projection once — both union branches
    // and later rounds read it instead of re-running the caller's
    // candidate pipeline per branch
    val p0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    val sym = p0
      .select(col("id_a").as("id"), col("id_b").as("nbr"))
      .unionByName(p0.select(col("id_b").as("id"), col("id_a").as("nbr")))
      .localCheckpoint(true)
    var labels = sym.select(col("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy("id").agg(min(col("label")).as("nbr_label"))
      val base = labels.withColumnRenamed("label", "old_label")
        .join(nbrMin, Seq("id"), "left")
      // pointer jump: label(label(v)) — label values are node ids of
      // the same component, so they always resolve in `labels`. On
      // round 0 every label == its id, so the jump is the identity —
      // skipping it saves two full shuffles of the label table
      val next = (if (round == 0) {
        base.select(col("id"),
          least(col("old_label"),
            coalesce(col("nbr_label"), col("old_label"))).as("label"),
          col("old_label"))
      } else {
        val viaLabel = labels
          .join(labels.toDF("label", "label2"), Seq("label"))
          .select(col("id"), col("label2"))
        base.join(viaLabel, Seq("id"), "left")
          .select(col("id"),
            least(col("old_label"),
              coalesce(col("nbr_label"), col("old_label")),
              coalesce(col("label2"), col("old_label"))).as("label"),
            col("old_label"))
      }).localCheckpoint(true)
      // the convergence probe runs over the already-checkpointed
      // partitions — no recomputation, no shuffle
      changed = !next.where(col("label") =!= col("old_label")).isEmpty
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    labels
  }

  /**
   * Connected components via alternating large-star / small-star
   * contraction (Kiveris et al., "Connected Components in MapReduce
   * and Beyond", SoCC'14) — the shuffle-lean formulation for
   * web-scale graphs. Each round shuffles only the (monotonically
   * star-ifying) EDGE list:
   *
   *  - large-star: every node links its LARGER neighbors to the
   *    minimum of its closed neighborhood;
   *  - small-star: every node links its smaller-or-equal neighbors
   *    (and itself) to the minimum among them.
   *
   * Alternating the two preserves connectivity and converges to star
   * graphs (every node linked directly to its component minimum) in
   * O(log n) rounds. Compared to [[connectedComponents]]' pointer
   * jumping — which shuffles the full label table twice per round
   * (neighbor-min join + label-of-label join) — each round here is
   * two aggregations and two joins over the edge list alone, which
   * SHRINKS toward one edge per non-root node; at 10^12-doc scale
   * that halves per-round shuffle volume. Output contract identical
   * to [[connectedComponents]]: (id, label) for every id appearing
   * in a pair, label = smallest id in the component (spec-proven
   * equal on randomized graphs).
   *
   * (r7) Hybrid tail: once the (shrinking) edge list fits
   * `driverFinishEdges` (default 1M edges; set 0 to force
   * pure-distributed), a single union-find pass finishes the
   * contraction on the driver: [[unionFindLabels]] on primitive
   * arrays, the edges packed by the same one scan that decides the path
   * ([[DriverGraph.collectEdges]]). Driver heap, measured in a local[4]
   * JVM (tasks share its heap) on 1 M edges over 2 M ids: the live heap
   * after GC peaked 495 bytes an edge over idle (1,092 with the boxed
   * `HashMap[Long, Long]` it replaced), and the call took 1.8 s (6.4 s
   * before). The tail rounds of
   * star-contraction are pure latency — a few KB of edges dragged
   * through full shuffle DAGs once the big components have collapsed
   * (measured: round 0 took 368k -> 1.7k edges, then three more
   * rounds of fixed overhead). Contraction rounds preserve both
   * connectivity and the node set (large-star keeps every node
   * attached via its larger/smaller neighbors; small-star re-emits
   * every node it touches), so components of the intermediate edge
   * list equal components of the input — the driver union-find
   * labels are identical to the converged star labels, and the
   * OpsSpec equality gate vs pointer-jumping plus a forced
   * driverFinishEdges = 0 case pin that.
   */
  def connectedComponentsStars(pairs: DataFrame, maxRounds: Int = 50,
                               driverFinishEdges: Long = 1000000L): DataFrame = {
    // (r7) `pairs` feeds the edge list AND the selfOnly tail below —
    // materialize its projection once, or the tail re-executes the
    // caller's whole candidate-generation pipeline (for the LSH dedup
    // queries: the full band join) a second time
    val p0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    // (r7) fast path: when the RAW pair list is already under the
    // driver bound, union-find it directly — no canonicalize+distinct
    // exchange, no labels-distinct, no selfOnly anti-join (union-find
    // handles duplicates, either orientation, and self-pairs — a
    // self-pair node becomes its own singleton root, exactly the
    // selfOnly contract). One packing job, which also materializes the
    // pairs it reaches (all of them unless it stops at the bound),
    // decides and brings the edges along; the distributed
    // contraction below remains the >bound (or null id) path and its
    // pure-distributed fixpoint stays spec-pinned.
    DriverGraph.collectEdges(p0, "id_a", "id_b", driverFinishEdges) match {
      case Some((us, vs)) => return unionFindLabels(p0.sparkSession, us, vs)
      case None =>
    }
    var edges = p0
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var converged = false
    var round = 0
    // lazy checkpoints: the count() that every round needs anyway IS
    // the materializing action (one job per round instead of the
    // eager checkpoint job + a separate count job); the previous
    // round's count is carried over instead of recounting `edges`
    var edgeCount = edges.count()
    while (!converged && round < maxRounds && edgeCount > driverFinishEdges) {
      // large-star over the symmetric neighbor view
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minAll = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val afterLarge = sym.join(minAll, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // small-star over the directed (to-smaller) view; only the
      // round result is checkpointed — lineage inside a round is two
      // joins deep, no need to materialize the midpoint
      val minSmaller = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val next = afterLarge.join(minSmaller, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minSmaller.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false)
      // set equality = equal cardinality AND next ⊆ edges; the
      // anti-join only runs once the counts agree (late rounds)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
      round += 1
    }
    val finish =
      if (!converged && edgeCount <= driverFinishEdges)
        DriverGraph.collectEdges(edges, "u", "v", driverFinishEdges)
      else None
    val labels = finish match {
      case Some((us, vs)) => unionFindLabels(edges.sparkSession, us, vs)
      case None =>
        edges.select(col("u").as("id"), col("v").as("label"))
          .unionByName(edges.select(col("v").as("id"), col("v").as("label")))
          .distinct()
    }
    // ids whose only pairs were self-pairs are filtered out of the
    // edge list up front but are still "appearing in a pair": emit
    // them as their own singleton component, exactly like
    // [[connectedComponents]] does (empty for id_a < id_b inputs)
    val selfOnly = p0.where(col("id_a") === col("id_b"))
      .select(col("id_a").as("id")).distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(selfOnly)
  }

  /** Driver union-find over packed edges: the ids compact to dense
    * ints ([[DriverGraph.dense]]), an `int[]` union-find by minimum id
    * (dense ids order like the ids, so the minimum dense root is the
    * component minimum) labels them, and (id, min-of-component) comes
    * back for every node as a local DataFrame — exactly the converged
    * star labels. */
  private def unionFindLabels(spark: SparkSession, us: Array[Long],
                              vs: Array[Long]): DataFrame = {
    val g = DriverGraph.dense(us, vs)
    val parent = Array.range(0, g.ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var i = 0
    while (i < g.src.length) {
      val ru = find(g.src(i))
      val rv = find(g.dst(i))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      i += 1
    }
    val labels = new Array[Long](g.ids.length)
    i = 0
    while (i < labels.length) { labels(i) = g.ids(find(i)); i += 1 }
    DriverGraph.pairFrame(spark, g.ids, labels, labels.length, ("id", "label"),
      (LongType, LongType))
  }

  /** Distinct character n-gram shingles: (id, gram). */
  def charShingles(docs: DataFrame, n: Int = 3,
                   id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id), col(text),
        explode(sequence(lit(1), greatest(length(col(text)) - (n - 1), lit(1))))
          .as("i"))
      .select(col(id), substring(col(text), col("i"), lit(n)).as("gram"))
      .distinct()

  /**
   * Distinct (id, 8-byte gram hash) pairs with the hash applied
   * map-side, BEFORE the distinct's exchange — every shuffle carries
   * an 8-byte key instead of gram text (the 100 TB shape). `fullOnly`
   * keeps only grams of exactly n chars (drops the truncated gram
   * short texts produce). `hash` picks the key function: "xxhash64"
   * (default, production) or "md5" (60-bit cross-engine key the
   * oracle catalog pins).
   *
   * (r7) Gram generation + hashing run in ONE codegen'd pass over the
   * text's bytes ([[graft.functions.GramHashesExpr]], bit-identical
   * to the explode(sequence) + substring + md5/conv chain it
   * replaces — GramHashSpec) instead of materializing a position
   * array, a gram string, a hex digest and a decimal string per gram.
   * `dedup = false` skips the built-in distinct so callers can filter
   * (e.g. a decontamination semi-join) BEFORE paying the exchange.
   */
  def charShingleHashes(docs: DataFrame, n: Int = 3, fullOnly: Boolean = false,
                        id: String = "doc_id", text: String = "text",
                        hash: String = "xxhash64",
                        dedup: Boolean = true): DataFrame = {
    val raw = docs.select(col(id),
      explode(graft.functions.GramHashesExpr.gramHashes(
        col(text), n, hash, fullOnly)).as("gram_hash"))
    if (dedup) raw.distinct() else raw
  }

  /** Position-preserving variant of [[charShingleHashes]]:
    * (id, i, gram_hash) for every FULL n-gram start position i
    * (1-based), hash applied map-side. Not deduplicated — the span
    * sessionization below needs every position. */
  def charShingleHashPositions(docs: DataFrame, n: Int,
                               id: String = "doc_id",
                               text: String = "text",
                               hash: String = "xxhash64"): DataFrame =
    docs.select(col(id),
        posexplode(graft.functions.GramHashesExpr.gramHashes(
          col(text), n, hash, fullOnly = true)).as(Seq("p", "gram_hash")))
      .select(col(id), (col("p") + 1).cast("long").as("i"), col("gram_hash"))

  /**
   * Maximal duplicated spans — the ranges Lee et al.-style dedup
   * actually CUTS from documents: per-doc character intervals covered
   * by n-grams appearing in >= 2 distinct documents, with
   * overlapping/adjacent gram intervals merged (two fixed-length-n
   * intervals merge iff their start gap <= n). Output
   * (doc_id, span_start, span_end, n_grams), 1-based inclusive char
   * offsets. Scale shape: dup-gram detection shuffles 8-byte map-side
   * gram hashes; the sessionization windows are PER DOC (shuffle key
   * doc_id, sort bounded by doc length) — never a global window.
   */
  def dupSpanRanges(docs: DataFrame, n: Int = 20,
                    id: String = "doc_id", text: String = "text",
                    hash: String = "xxhash64"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (r7) the positions frame feeds BOTH the dup-gram detection and
    // the span probe — materialize the gram-hash scan once (lazy
    // local checkpoint) instead of re-hashing the corpus per side;
    // dup detection derives the distinct (doc, hash) rows from it
    // (identical to charShingleHashes(fullOnly = true) by
    // construction: pos holds exactly the full grams)
    val pos = charShingleHashPositions(docs, n, id, text, hash)
      .localCheckpoint(false)
    val dup = pos.select(col(id), col("gram_hash")).distinct()
      .groupBy("gram_hash").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("gram_hash")
    val hits = pos.join(dup, "gram_hash").select(col(id), col("i"))
    val w = Window.partitionBy(col(id)).orderBy(col("i"))
    val flagged = hits
      .withColumn("prev", lag(col("i"), 1).over(w))
      .withColumn("new_span",
        when(col("prev").isNull || col("i") - col("prev") > n, 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(id), col("grp"))
      .agg(min(col("i")).as("s"), max(col("i")).as("e"),
        count(lit(1)).as("n_grams"))
      .select(col(id), col("s").as("span_start"),
        (col("e") + (n - 1)).as("span_end"), col("n_grams"))
  }

  /**
   * Exact n-gram Jaccard for all pairs within a bounded id range
   * (the verification stage downstream of LSH candidates):
   * jaccard_ppm = |A intersect B| * 1e6 / |A union B|.
   * Pairs with an empty intersection are not emitted.
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, maxId: Long = 100,
                        id: String = "doc_id", text: String = "text"): DataFrame = {
    val sub = docs.where(col(id) < maxId)
    // grams feed the size aggregation and both join sides — compute
    // the explode+distinct once (lazy materialization)
    val grams = charShingles(sub, n, id, text).localCheckpoint(false)
    val sizes = grams.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val inter = grams.toDF("id_a", "gram")
      .join(grams.toDF("id_b", "gram"), "gram")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      // integer div, not double-div+cast: exact in every SQL engine
      .select(col("id_a"), col("id_b"),
        expr("inter * 1000000 div (sz_a + sz_b - inter)").as("jaccard_ppm"))
  }
}
