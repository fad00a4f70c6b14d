package graft

import graft.model.InterleavedCorpus
import graft.ops.{Multimodal, Similarity, TextDedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("minhash: identical texts get identical signatures") {
    val sigs = TextDedup.minhashSignatures(docs, 16)
    val joined = docs.select(col("doc_id"), md5(col("text")).as("th"))
      .join(sigs, "doc_id")
      .groupBy("th")
      .agg(countDistinct(struct((0 until 16).map(i => col(s"mh$i")): _*)).as("n"))
    assert(joined.where(col("n") > 1).count() === 0)
  }

  test("lsh pairs: estimated similarity bounded and symmetric-free") {
    val sigs = TextDedup.minhashSignatures(docs, 16)
    val pairs = TextDedup.lshCandidatePairs(sigs, 16, 2).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered a < b")
      val nm = r.getLong(2)
      assert(nm >= 2 && nm <= 16, s"a candidate pair shares >= 1 band (2 comps): $nm")
    }
  }

  test("simhash: identical texts identical hashes; hamming sane") {
    val sh = TextDedup.simhash(docs, 62)
    val byText = docs.join(sh, "doc_id")
      .groupBy("text").agg(countDistinct("simhash").as("n"))
    assert(byText.where(col("n") > 1).count() === 0)
    val d = sh.limit(2).collect()
    val h = TextDedup.hamming(lit(d(0).getLong(1)), lit(d(1).getLong(1)))
    val dist = spark.range(1).select(h.cast("long")).collect()(0).getLong(0)
    assert(dist >= 0 && dist <= 62)
  }

  test("ANN LSH: bucketed results are the bucket-restricted exact ranking") {
    // the test embeddings are pure random vectors (labels uncorrelated
    // with cosine), so recall against exhaustive search is not a
    // meaningful property here; what must hold is structural: every
    // returned neighbor shares the query's bucket, and the ranking
    // equals the brute-force ranking restricted to that bucket
    val queries = emb.where(col("vec_id") < 10)
    val nPlanes = 4
    val buckets = emb.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), nPlanes, 64).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val approx = Similarity.lshTopK(emb, queries, 3, nPlanes = nPlanes, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(approx.nonEmpty)
    approx.foreach { case (q, n, _) =>
      assert(buckets(q) === buckets(n), s"neighbor $n of $q from another bucket")
    }
    // rank-1 within bucket == exact top-1 among same-bucket candidates
    val exact = Similarity.bruteForceTopK(emb, queries, 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    approx.filter(_._3 == 1).foreach { case (q, n, _) =>
      val bucketBest = exact(q).sortBy(_._3)
        .find(e => buckets(e._2) == buckets(q)).get._2
      assert(n === bucketBest, s"query $q: got $n want $bucketBest")
    }
  }

  test("salted and unsalted link membership agree (skew path)") {
    import graft.assign.LinkMembership
    val assignment = docs.select(col("doc_id"),
      array((col("doc_id") % 7).cast("int"),
        (col("doc_id") % 3).cast("int")).as("tile_ids"))
    val links = docs.select(expr("doc_id div 5").as("link_id")).distinct()
      .select(col("link_id"),
        sequence(col("link_id") * 5, col("link_id") * 5 + 4).as("member_ids"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("link_id", "tile_ids", "is_problem")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getBoolean(2))).toSet
    // the unsalted reference: one collect_set per link
    val plain = canon(links
      .select(col("link_id"), explode(col("member_ids")).as("doc_id"))
      .join(assignment, Seq("doc_id"))
      .select(col("link_id"), explode(col("tile_ids")).as("tid"))
      .groupBy("link_id").agg(collect_set(col("tid")).as("tset"))
      .select(col("link_id"), sort_array(col("tset")).as("tile_ids"),
        (size(col("tset")) > 1).as("is_problem")))
    val salted = canon(LinkMembership.linkTiles(links, assignment))
    assert(plain === salted)
  }

  test("IVF assignment: centroids assign to themselves") {
    val assign = Similarity.ivfAssign(emb, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 16L).foreach { c =>
      assert(assign(c) === c, s"centroid $c must be its own nearest centroid")
    }
    assert(assign.size === emb.count())
  }

  test("IVF argmax is a pure projection: zero exchanges in the assign plan") {
    val assign = Similarity.ivfAssign(emb, 16)
    val plan = assign.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"ivfAssign must be a literal-centroid projection, no shuffle:\n$plan")
    val trained = Similarity.kmeansCentroids(emb, 4, iters = 1)
    val planT = Similarity.ivfAssignTrained(emb, trained)
      .queryExecution.executedPlan.toString
    assert(!planT.contains("Exchange"),
      s"ivfAssignTrained must not shuffle:\n$planT")
  }

  test("PQ codes: zero-exchange projection, 4-bit fields, deterministic") {
    val codes = Similarity.pqCodes(emb, m = 8, kSub = 16)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"pqCodes must be a literal-codebook projection, no shuffle:\n$plan")
    val rows = codes.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length.toLong === emb.count())
    rows.foreach { case (_, c) =>
      assert(c >= 0 && c < (1L << 32), s"packed code out of range: $c")
      (0 until 8).foreach(j => assert(((c >> (4 * j)) & 0xFL) < 16))
    }
    val again = Similarity.pqCodes(emb, m = 8, kSub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.toMap === again, "PQ coding must be deterministic")
  }

  test("IVF-PQ search: rank contract and probe containment") {
    val queries = emb.where(col("vec_id") < 10)
    val res = Similarity.ivfPqSearch(emb, queries, k = 3,
      nCentroids = 8, nProbe = 2, m = 8, kSub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_._3).sorted.toList == (1L to rows.length).toList)
    }
    // every returned neighbor must live in one of its query's nProbe
    // probed inverted lists (same driver-side argmax + tie-break)
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cents = emb.where(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    def scoresOf(v: Array[Double]) =
      cents.map { case (cid, cv) => (dotd(v, cv), -cid) }
    def probes2(v: Array[Double]): Set[Long] =
      scoresOf(v).sorted.reverse.take(2).map(-_._2).toSet
    def nearest(v: Array[Double]): Long = -scoresOf(v).max._2
    res.foreach { case (q, n, _) =>
      assert(probes2(vecs(q)).contains(nearest(vecs(n))),
        s"neighbor $n of query $q came from an unprobed list")
    }
  }

  test("dup-span merge: maximal, disjoint, and covers planted duplicates") {
    // two docs sharing one long substring + one doc with two separated
    // duplicated regions -> spans must be found in both sharers,
    // maximal (no two mergeable spans left), and disjoint
    val dupA = "the quick brown fox jumps over the lazy dog repeatedly"
    val dupB = "colorless green ideas sleep furiously in the afternoon"
    val fixture = spark.createDataFrame(Seq(
      (1L, s"unique-prefix-one $dupA unique-suffix-one"),
      (2L, s"unique-prefix-two-longer $dupA mid-filler-text $dupB tail-two"),
      (3L, s"start-three $dupB end-of-three"),
      (4L, "no duplicates whatsoever in this entirely singular document")
    )).toDF("doc_id", "text")
    val n = 20
    val spans = graft.ops.TextDedup.dupSpanRanges(fixture, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val texts = Map(1L -> s"unique-prefix-one $dupA unique-suffix-one",
      2L -> s"unique-prefix-two-longer $dupA mid-filler-text $dupB tail-two",
      3L -> s"start-three $dupB end-of-three")
    // every doc holding a planted duplicate reports a span covering it
    for ((doc, dup) <- Seq((1L, dupA), (2L, dupA), (2L, dupB), (3L, dupB))) {
      val at = texts(doc).indexOf(dup) + 1 // 1-based
      val covering = spans.filter(s => s._1 == doc &&
        s._2 <= at && s._3 >= at + dup.length - 1)
      assert(covering.nonEmpty, s"doc $doc: planted dup at $at uncovered")
    }
    assert(!spans.exists(_._1 == 4L), "doc 4 has no duplicates")
    // disjoint and maximal per doc: next.start > prev.end + 1 (equal
    // or adjacent spans would have merged: start gap <= n)
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 > a._3 + 1, s"doc $doc: spans $a and $b should have merged")
        case _ => ()
      }
      // span geometry: end - start + 1 >= n, and n_grams consistent
      // with the covered gram starts (end - n + 1 - start + 1 >= n_grams
      // is not exact under gaps <= n, but bounds hold)
      sorted.foreach { s =>
        assert(s._3 - s._2 + 1 >= n, s"span shorter than a gram: $s")
        assert(s._4 >= 1 && s._4 <= s._3 - s._2 + 1, s"n_grams out of bounds: $s")
      }
    }
  }

  test("stratified sample: two-level bucket bottom-k equals one stratum-wide sort") {
    // skewed fixture: one stratum 50x the other
    val fixture = spark.range(0, 2040).toDF("doc_id")
      .withColumn("source", when(col("doc_id") < 2000, "big").otherwise("small"))
      .withColumn("text", concat(lit("t"), col("doc_id")))
    val h = conv(substring(md5(concat(lit("strat"), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("long")
    val k = 25
    // engine formulation (two-level) — inline copy of the catalog plan
    import org.apache.spark.sql.expressions.Window
    val base = fixture.select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("b", pmod(col("h"), lit(64L)))
    val w1 = Window.partitionBy("source", "b").orderBy(col("h"), col("doc_id"))
    val w2 = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val twoLevel = base.withColumn("r1", row_number().over(w1)).where(col("r1") <= k)
      .withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
      .select("source", "doc_id", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val oneLevel = base.withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
      .select("source", "doc_id", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(twoLevel === oneLevel,
      "bucketed bottom-k must equal the stratum-wide sort")
    assert(twoLevel.count(_._1 == "big") === k)
    assert(twoLevel.count(_._1 == "small") === k, "small stratum has 40 rows >= k")
  }

  test("chunk overlap: chunks tile every doc with stride-sized overlap") {
    val win = 512; val stride = 448
    val chunks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), expr(s"(n_tokens - 1) div $stride"))).as("ci"))
      .select(col("doc_id"), col("ci"),
        (col("ci") * stride + 1).as("s"),
        least(col("ci") * stride + win, col("n_tokens")).as("e"),
        col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      val nTok = sorted.head._5
      assert(sorted.head._3 === 1L, s"doc $doc: first chunk must start at 1")
      assert(sorted.last._4 === nTok, s"doc $doc: last chunk must end at n_tokens")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 === a._3 + stride)
          assert(b._3 <= a._4 + 1, s"doc $doc: gap between chunks $a -> $b")
        case _ => ()
      }
    }
  }

  test("trained IVF: integer-exact Lloyd rounds are bit-deterministic") {
    def train() = Similarity
      .kmeansCentroids(emb, 8, iters = 2, exactScale = Some(1L << 20))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      .sortBy(_._1).toList
    val a = train()
    val b = train()
    assert(a == b, "exact-scaled training must reproduce bit-identically")
    assert(a.nonEmpty && a.forall(_._2.length == 64))
    // the trained search keeps the probe contract: <= k rows per query,
    // ranks contiguous from 1
    val res = Similarity.ivfSearchTrained(emb, emb.where(col("vec_id") < 5),
      k = 3, nCentroids = 8, iters = 2).collect()
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getLong(2)).sorted.toList == (1L to rows.length).toList)
    }
  }

  test("lsh bucket cap: 10k identical docs complete; oversized buckets reported") {
    // a pathological near-dup cluster: every doc identical -> every
    // band bucket holds all 10k docs (quadratic without the cap)
    val hot = spark.range(10000)
      .select(col("id").as("doc_id"),
        lit("the same text repeated again and again").as("text"))
    val sigs = TextDedup.minhashSignatures(hot, 16)
    val dropped = TextDedup.oversizedBandBuckets(sigs, 16, 8, maxBucket = 100)
    assert(dropped.count() > 0, "the hot buckets must be reported")
    val pairs = TextDedup.lshCandidatePairs(sigs, 16, 8, maxBucket = 100)
    assert(pairs.count() === 0,
      "all candidates lived in capped buckets, so none survive")
  }

  test("connected components: chains canonicalize to the component minimum") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = TextDedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // idempotent: relabeling the keepers changes nothing
    val again = TextDedup.connectedComponents(
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b"))
      .where(col("id") =!= col("label")).collect()
    assert(again.forall(_.getLong(1) == 1L))
  }

  test("large-star/small-star CC equals pointer-jump CC on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816)
    // chains, a clique, a star, plus random noise edges — the shapes
    // that stress contraction differently (long paths vs wide hubs)
    val chain = (0 until 30).map(i => (100L + i, 101L + i))
    val clique = for (i <- 0 until 6; j <- i + 1 until 6) yield (200L + i, 200L + j)
    val star = (1 until 12).map(i => (300L, 300L + i))
    val noise = Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val pairs = (chain ++ clique ++ star ++ noise).toDF("id_a", "id_b")
    val jump = graft.ops.TextDedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // default: hybrid (distributed contraction + driver union-find tail)
    val stars = graft.ops.TextDedup.connectedComponentsStars(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars === jump,
      s"star-contraction labels diverge: ${stars.toSet.diff(jump.toSet).take(5)}")
    // driverFinishEdges = 0 forces the pure-distributed contraction to
    // convergence — the r7 hybrid tail must change nothing
    val starsDist = graft.ops.TextDedup.connectedComponentsStars(
      pairs, driverFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starsDist === jump,
      s"pure-distributed star labels diverge: ${starsDist.toSet.diff(jump.toSet).take(5)}")
  }

  test("star CC with a small driver bound finishes a contracted edge list on the driver") {
    // 8 raw pairs and 6 canonical edges (one reversed duplicate, one
    // self-pair) exceed the bound of 5, so the raw fast path is skipped
    // and contraction starts; the converged stars hold 4 edges (6 nodes,
    // 2 components), so contraction can only stop below the bound
    // before it has converged, and union-find labels that edge list
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 2L),
      (11L, 10L), (10L, 11L), (20L, 20L)).toDF("id_a", "id_b")
    val jump = TextDedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stars = TextDedup.connectedComponentsStars(pairs, driverFinishEdges = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jump === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    assert(stars === jump)
  }

  test("fingerprint and repetition keep a null-text doc, as the oracle does") {
    // the oracle's gram table gives a null text one NULL gram
    // (GREATEST skips the NULL length): fingerprint NULL, rep_ppm 0
    val dir = java.nio.file.Files.createTempDirectory("graft_nulltext").toString
    docs.limit(3)
      .unionByName(docs.limit(1).withColumn("doc_id", lit(-1L))
        .withColumn("text", lit(null).cast("string")))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def rows(q: String) = graft.queries.OpsCatalog.queries(q)(spark, dir)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val fp = rows("q_fingerprint")
    val rep = rows("q_repetition")
    assert(fp.size === 4 && rep.size === 4, "every doc keeps its row")
    assert(fp(-1L) === None)
    assert(rep(-1L) === Some(0L))
    assert((fp - -1L).values.forall(_.isDefined))
  }

  test("nearest_index kernel equals the struct-array argmax formulation") {
    // the r7 compact argmax (one static call) vs the literal-score
    // struct max it replaced — same dots, same tie-break, over the
    // real embeddings table and every subspace offset
    import graft.functions.{DotF64Expr, NearestIndexExpr}
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    for ((off, len) <- Seq((0, 64), (8, 8), (56, 8))) {
      val table = cents.map(_._2.slice(off, off + len))
      val structMax = {
        val scores = array(table.zipWithIndex.map { case (cv, i) =>
          struct(DotF64Expr.dotF64(
              slice(col("embedding"), off + 1, len),
              typedLit(cv)).as("score"),
            lit(-i.toLong).as("negidx"))
        }: _*)
        -array_max(scores).getField("negidx")
      }
      val rows = emb.select(
        structMax.as("ref"),
        NearestIndexExpr.nearestIndex(col("embedding"), table, off, len)
          .as("got")).collect()
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1),
        s"argmax diverges at offset $off len $len"))
    }
  }

  test("nearest_index edge contracts: NaN scores never win, a null element gives null") {
    import graft.functions.NearestIndexExpr
    // row 0 scores NaN against any vector (NaN * x); rows 1 and 2 are
    // finite, and row 1 is the best of them for a positive first element
    val table = Seq(Seq(Double.NaN, 0.0), Seq(2.0, 0.0), Seq(1.0, 0.0))
    val vecs = spark.sql("""SELECT * FROM VALUES
      (0, array(1D, 5D)),                       -- NaN row beaten: 1
      (1, array(double('NaN'), 1D)),            -- every score NaN: 0
      (2, array(CAST(NULL AS DOUBLE), 1D)),     -- null element: null
      (3, CAST(NULL AS ARRAY<DOUBLE>))          -- null array: null
      AS t(i, vec)""")
    val got = vecs.orderBy("i")
      .select(NearestIndexExpr.nearestIndex(col("vec"), table, 0, 2).as("idx"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got === Seq(Some(1L), Some(0L), None, None))
  }

  test("dot_f64 codegen expression is bit-identical to the HOF formulation") {
    import graft.functions.DotF64Expr.dotF64
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // float x float over the real embeddings table
    val pairsSrc = emb.select(col("vec_id"), col("embedding"))
    val diff = pairsSrc.toDF("ia", "va")
      .crossJoin(pairsSrc.toDF("ib", "vb"))
      .where(col("ia") < 20 && col("ib") < 20)
      .select(dotF64(col("va"), col("vb")).as("fast"),
        hof(col("va"), col("vb")).as("slow"))
      .where(col("fast") =!= col("slow") ||
        col("fast").isNull =!= col("slow").isNull)
    assert(diff.count() === 0)
    // float x double (the LSH plane case) and null/mismatch semantics
    val plane = array((0 until 64).map(d =>
      lit(graft.ops.Similarity.planeComponent(0, d, 64).toDouble)): _*)
    val diff2 = emb.where(col("vec_id") < 50)
      .select(dotF64(col("embedding"), plane).as("fast"),
        hof(col("embedding"), plane).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(diff2.count() === 0)
    val edge = spark.sql(
      "SELECT CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>) AS a, " +
        "CAST(array(1.0) AS ARRAY<DOUBLE>) AS b, " +
        "CAST(array(1.0, NULL) AS ARRAY<DOUBLE>) AS c")
    val e = edge.select(dotF64(col("a"), col("b")).as("mismatch"),
      dotF64(col("a"), col("c")).as("withNull"),
      dotF64(col("a"), col("a")).as("ok")).collect()(0)
    assert(e.isNullAt(0) && e.isNullAt(1) && e.getDouble(2) === 5.0)
  }

  test("kmeans IVF training: total assignment, monotone objective") {
    import graft.ops.Similarity
    val k = 8
    val trained = Similarity.kmeansCentroids(emb, k, iters = 2).cache()
    val nC = trained.count()
    assert(nC > 0 && nC <= k)
    val assigned = Similarity.ivfAssignTrained(emb, trained)
    assert(assigned.count() === emb.count(), "assignment must be total")
    // spherical-kmeans objective (mean best cosine on normalized
    // vectors) must not degrade vs the init centroids
    def objective(cents: org.apache.spark.sql.DataFrame): Double = {
      val normalized = emb
        .select(col("vec_id"), col("embedding").as("v"),
          Similarity.norm(col("embedding")).as("nrm"))
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("double") / col("nrm")).as("nv"))
      normalized.crossJoin(broadcast(cents))
        .groupBy("vec_id")
        .agg(max(Similarity.dot(col("nv"), col("centroid"))).as("best"))
        .agg(avg("best")).collect()(0).getDouble(0)
    }
    val init = Similarity.kmeansCentroids(emb, k, iters = 0)
    assert(objective(trained) >= objective(init) - 1e-9,
      "Lloyd rounds must not degrade the quantization objective")
  }

  test("approx percentile satisfies the exact rank-error bound per source") {
    // the q_percentile_approx contract, plus a direct approx-vs-exact
    // delta check: the GK sketch's answer must sit within the
    // documented rank window of the exact order statistics
    val ok = graft.queries.OpsCatalog
      .queries("q_percentile_approx")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(ok.nonEmpty)
    ok.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3),
        s"rank bound violated for source ${r.getString(0)} (n=${r.getLong(1)})")
    }
    val acc = 100
    val toks = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val both = toks.groupBy("source").agg(
      expr(s"approx_percentile(n_tokens, 0.5, $acc)").as("approx"),
      expr("percentile(n_tokens, 0.5)").as("exact"),
      count(lit(1)).as("n"),
      expr("sort_array(collect_list(n_tokens))").as("vals"))
    both.collect().foreach { r =>
      val vals = r.getSeq[Long](4)
      val n = r.getLong(3)
      val approx = r.getLong(1)
      // values within the rank window around n/2 (± n/acc + 2)
      val slack = (n / acc + 2).toInt
      val lo = math.max(0, (n / 2 - slack).toInt)
      val hi = math.min(vals.size - 1, (n / 2 + slack).toInt)
      assert(approx >= vals(lo) && approx <= vals(hi),
        s"approx p50 $approx outside rank window [${vals(lo)}, ${vals(hi)}] " +
          s"for source ${r.getString(0)}")
    }
  }

  test("sequence packing: offsets independent of bucketing, stream-contiguous") {
    val nTok = size(split(col("text"), " "))
    val a = graft.ops.Packing.tokenOffsets(docs, nTok, bucketSize = 4096L)
    val b = graft.ops.Packing.tokenOffsets(docs, nTok, bucketSize = 7L)
    // the two-level scan is an implementation detail: any bucket width
    // must yield the identical global offsets
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "token offsets must not depend on the scan's bucket width")
    // pathological widths: 1 (every doc its own bucket — the wide
    // window degenerates to a full per-doc scan) and the auto
    // (~sqrt(max id)) default must both reproduce the same offsets
    val tiny = graft.ops.Packing.tokenOffsets(docs, nTok, bucketSize = 1L)
    val auto = graft.ops.Packing.tokenOffsets(docs, nTok)
    assert(a.exceptAll(tiny).isEmpty && tiny.exceptAll(a).isEmpty,
      "bucketSize=1 must not change offsets")
    assert(a.exceptAll(auto).isEmpty && auto.exceptAll(a).isEmpty,
      "auto bucket width must not change offsets")
    // contiguity: sorted by doc_id, each start_offset equals the
    // previous start_offset + n_tokens (no gaps, no overlaps)
    val rows = a.orderBy("doc_id").collect()
    var expected = 0L
    rows.foreach { r =>
      assert(r.getLong(2) === expected,
        s"offset gap at doc ${r.getLong(0)}")
      expected += r.getLong(1)
    }
    // chunk spans against an INDEPENDENT hand-computed fixture —
    // boundary-straddling, exactly-filling and single-token docs
    val fix = Seq((0L, "a b c"), (1L, Seq.fill(510)("w").mkString(" ")),
      (2L, "a b c d e"), (3L, Seq.fill(512)("w").mkString(" ")),
      (4L, "z")).toDF("doc_id", "text")
    val got = graft.ops.Packing
      .tokenOffsets(fix, size(split(col("text"), " ")), bucketSize = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // offsets: 0, 3, 513, 518, 1030; chunks of 512 tokens
    assert(got === Seq(
      (0L, 0L, 0L, 0L),      // tokens [0, 3)    -> chunk 0
      (1L, 3L, 0L, 1L),      // tokens [3, 513)  -> chunks 0..1
      (2L, 513L, 1L, 1L),    // tokens [513, 518)-> chunk 1
      (3L, 518L, 1L, 2L),    // tokens [518,1030)-> chunks 1..2
      (4L, 1030L, 2L, 2L)))  // token 1030       -> chunk 2
  }

  test("multimodal: extraction is deterministic, schema-typed, media-only") {
    val corpus = InterleavedCorpus.fromFlatDocuments(docs)
    val decoded = Multimodal.extract(corpus).cache()
    val n = decoded.count()
    assert(n > 0)
    // no text spans leak through; kinds have the right fake metadata shape
    assert(decoded.where(col("kind") === "text").count() === 0)
    assert(decoded.where(col("kind") === "image" &&
      (col("width") < 160 || col("height") < 120)).count() === 0)
    assert(decoded.where(col("kind") === "audio" && col("sample_rate") <= 0).count() === 0)
    // deterministic across runs
    val again = Multimodal.extract(corpus)
    assert(decoded.exceptAll(again).count() === 0)
    assert(again.exceptAll(decoded).count() === 0)
    // frame sampling bounded by frame count
    val sampled = Multimodal.sampleFrames(decoded.toDF())
    assert(sampled.where(size(col("sampled_frames")) >
      col("n_frames") / 25 + 1).count() === 0)
  }
}
