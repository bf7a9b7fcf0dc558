package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Ann, Dedup, Multimodal, TextOps}

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pipeline-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val docs = {
    // per-doc disjoint vocabularies: organic cross-doc Jaccard is 0, so the
    // only pairs are the planted ones (keeps the test at LSH's designed
    // operating point, j >= 0.8, where 32x4 banding recall is ~1 - 6e-11)
    val base = (0 until 60).map { i =>
      val words = (0 until 40).map(j => s"t${i}_$j").mkString(" ")
      (i.toLong, words)
    }
    // plant near-duplicates: 100 & 101 are small edits of doc 0;
    // 102 is an exact copy of doc 1
    val dups = Seq(
      (100L, base(0)._2.replaceFirst("t0_0", "zz")),
      (101L, base(0)._2 + " extra"),
      (102L, base(1)._2))
    (base ++ dups).toDF("doc_id", "text")
  }

  test("lmQuality: hand-computed unigram negative log-probs with OOV floor") {
    // corpus: 6 tokens total; counts: a=3, b=2, c=1. vocabSize=2 keeps
    // {a, b}; c is OOV and floors at 1/6
    val d = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.lmQuality(d, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def nll(p: Double) = -math.log(p)
    val d1 = (nll(3.0 / 6) + nll(3.0 / 6) + nll(2.0 / 6)) / 3
    val d2 = (nll(3.0 / 6) + nll(2.0 / 6) + nll(1.0 / 6)) / 3
    assert(out(1L) == ((3L, math.rint(d1 * 1e4) / 1e4)))
    assert(out(2L) == ((3L, math.rint(d2 * 1e4) / 1e4)))
  }

  test("keywordExtract: tf*ln(N/df) ranking with deterministic tie-break") {
    // N=3 docs; term df: x=3 (idf 0), y=2, z=1, w=1
    val d = Seq((1L, "x y z z"), (2L, "x y"), (3L, "x w")).toDF("doc_id", "text")
    val out = TextOps.keywordExtract(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: z tf=2 idf=ln(3) beats y tf=1 idf=ln(1.5); x idf=0 last
    assert(out((1L, 1L)) == "z" && out((1L, 2L)) == "y")
    // doc 3: w (ln 3) beats x (0)
    assert(out((3L, 1L)) == "w" && out((3L, 2L)) == "x")
    // zero-idf x scores exactly 0.0 everywhere it appears at rank 2 in doc 2
    assert(out((2L, 1L)) == "y" && out((2L, 2L)) == "x")
  }

  test("charEntropy: exact values, empty string, supplementary planes, fuzz") {
    import graft.functions.CharEntropy
    val cases = Seq(
      "aabb" -> 1.0, "abab" -> 1.0, "abcd" -> 2.0, "aaaa" -> 0.0, "" -> 0.0,
      // two distinct supplementary-plane code points, one each: H = 1 bit
      // (counting UTF-16 units instead would see 4 units and break this)
      "😀😁" -> 1.0)
    val got = cases.map(_._1).toDF("text")
      .select(CharEntropy.charEntropy(col("text"))).as[Double].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(math.abs(g - want) < 1e-12, s"want $want got $g")
    }
    // fuzz vs an independent local formula (-sum p*log2 p over a histogram)
    val rnd = new scala.util.Random(7)
    val strs = (0 until 50).map(_ =>
      (0 until rnd.nextInt(200)).map(_ => ('a' + rnd.nextInt(8)).toChar).mkString)
    def local(s: String): Double = {
      if (s.isEmpty) return 0.0
      val n = s.length.toDouble
      -s.groupBy(identity).values.map(_.length / n)
        .map(p => p * math.log(p) / math.log(2.0)).sum
    }
    val gotF = strs.toDF("text")
      .select(CharEntropy.charEntropy(col("text"))).as[Double].collect()
    strs.map(local).zip(gotF).foreach { case (want, g) =>
      assert(math.abs(g - want) < 1e-9, s"want $want got $g")
    }
  }

  test("exact dedup groups exact copies only") {
    val groups = TextOps.dedupExact(docs).filter($"group_size" > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keeper") == 1L)
    assert(groups(0).getAs[Long]("group_size") == 2L)
  }

  test("minhash-LSH pairs == exact jaccard pairs on planted dups") {
    val exact = Dedup.jaccardPairs(docs, w = 3, minJaccard = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashPairs(docs, w = 3, minJaccard = 0.8, bands = 32, rowsPerBand = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((0L, 100L)) && exact.contains((0L, 101L)) &&
      exact.contains((1L, 102L)), s"planted dups missing: $exact")
    assert(lsh == exact)
  }

  test("simhash: identical docs have distance 0; near-dups small distance") {
    val pairs = Dedup.simHashPairs(docs, maxDist = 8)
      .select("doc_a", "doc_b", "dist").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((1L, 102L)).contains(0), s"exact copy must hash identically: $m")
  }

  test("ann: LSH finds planted near neighbors; brute force ranks them first") {
    // clustered vectors: ids 1000+i are tiny perturbations of ids i
    val rnd = new java.util.Random(5)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(i => (i.toLong, vec()))
    val copies = bases.map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ copies).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 3)

    val brute = Ann.bruteForceTopK(emb, q, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(brute == Set((0L, 1000L), (1L, 1001L), (2L, 1002L)))

    val lsh = Ann.lshTopK(emb, q, k = 1, dim = 16, bits = 6, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"LSH missed planted neighbors: $lsh")

    // IVF with enough probes finds the same planted neighbors: each
    // perturbed copy lands in (or next to) its base's cell
    val ivf = Ann.ivfTopK(emb, q, k = 1, dim = 16, clusters = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == brute, s"IVF missed planted neighbors: $ivf")

    // PQ with exact re-ranking recovers the planted neighbors too: the
    // copy's codes match its base's, so it survives the ADC cut
    val pq = Ann.pqTopK(emb, q, k = 1, dim = 16, m = 4, codewords = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq == brute, s"PQ missed planted neighbors: $pq")

    val ivfpq = Ann.ivfPqTopK(emb, q, k = 1, dim = 16, clusters = 8, nprobe = 4,
        m = 4, codewords = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfpq == brute, s"IVF-PQ missed planted neighbors: $ivfpq")

    // coded/trained contract: pre-encoded codes without the codebooks that
    // produced them must fail loudly, never silently retrain and mis-score
    val books = Ann.trainPq(emb, m = 4, codewords = 8, dim = 16)
    val codes = Ann.encodePq(emb, books, dim = 16)
    intercept[IllegalArgumentException] {
      Ann.pqTopK(emb, q, k = 1, dim = 16, m = 4, codewords = 8, coded = Some(codes))
    }
    intercept[IllegalArgumentException] {
      Ann.ivfPqTopK(emb, q, k = 1, dim = 16, clusters = 8, m = 4, codewords = 8,
        precoded = Some(codes))
    }

    // embedding near-dup pairs: every planted copy pairs with its base at
    // cos >= 0.95, and nothing else does
    val pairs = Dedup.embeddingPairs(emb, minCos = 0.95, dim = 16, bits = 6, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0 until 20).map(i => (i.toLong, 1000L + i)).toSet,
      s"embedding near-dup pairs: $pairs")
  }

  test("minhash plan persists only ids+signatures — never the shingle arrays") {
    // the 100 TB guard for THE headline dedup operator: the r3 version
    // .cache()d (doc_id, shingles, sig) — a corpus-sized persist. Only
    // InMemoryRelations over (doc_id, sig) or the candidate-restricted
    // shingle set may appear; none may carry shingles for the full corpus.
    val plan = Dedup.minHashPairsPlan(docs, w = 3, minJaccard = 0.8,
      bands = 32, rowsPerBand = 4)._1.queryExecution.optimizedPlan
    val cached = plan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.nonEmpty, "expected the ids+signature projection to be cached")
    val corpusSized = cached.filter { m =>
      m.output.exists(_.name == "shingles") &&
        // the candidate-restricted cache is allowed to hold shingles: it is
        // bounded by the banding join, recognizable by the semi-join in its
        // child plan
        !m.cachedPlan.toString.toLowerCase.contains("semi")
    }
    assert(corpusSized.isEmpty,
      s"corpus-sized shingle cache found:\n${corpusSized.mkString("\n")}")
  }

  test("collocations: PMI ranking matches a local reference computation") {
    val texts = Seq(
      (0L, "new york is big"),
      (1L, "new york has a new park"),
      (2L, "york new city"),
      (3L, "big park in new york"),
      (4L, "new york new york again"),
      (5L, "the city is big and the park is new"))
    val got = TextOps.collocations(texts.toDF("doc_id", "text"), minCount = 2L, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // local reference: same counts, same formula, same rounding mode
    val toksAll = texts.flatMap(_._2.split(" ").filter(_.nonEmpty))
    val uni = toksAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nUni = toksAll.size.toLong
    val bgs = texts.flatMap(_._2.split(" ").filter(_.nonEmpty).sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")))
    val nBg = bgs.size.toLong
    val want = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2L)
      .map { case (bgm, c2) =>
        val Array(a, b) = bgm.split(" ")
        val pmi = math.log((c2.toDouble * nUni * nUni) / (nBg.toDouble * uni(a) * uni(b)))
        (bgm, c2, BigDecimal(pmi).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy { case (bgm, _, pmi) => (-pmi, bgm) }.take(5)
    assert(got == want)
    assert(got.exists(_._1 == "new york")) // the planted collocation survives the floor
  }

  test("winnowing: selection matches a local reference; guarantee holds on planted dups") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // straight-line transcription of Schleimer et al. §4's algorithm:
    // every full window of w gram hashes selects its rightmost minimum
    def winnowRef(text: String, k: Int, w: Int): Set[String] = {
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.length < k) return Set.empty
      val hs = (0 to toks.length - k).map(i => md5hex(toks.slice(i, i + k).mkString(" ")))
      if (hs.length < w) return Set.empty
      (0 to hs.length - w).map { p =>
        var best = p
        for (q <- p until p + w) if (hs(q) <= hs(best)) best = q
        hs(best)
      }.toSet
    }
    val got = TextOps.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getString(1)).toSet }
    for ((id, text) <- docs.collect().map(r => (r.getLong(0), r.getString(1))))
      assert(got.getOrElse(id, Set.empty) == winnowRef(text, 4, 4), s"doc $id")
    // exact copy (102 of 1) selects the identical fingerprint set; the
    // near-dup edits of doc 0 share runs >= w+k-1 = 7 tokens, so the
    // winnowing guarantee forces shared fingerprints
    assert(got(102L) == got(1L))
    assert((got(100L) & got(0L)).nonEmpty && (got(101L) & got(0L)).nonEmpty)
    val pairs = TextOps.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((1L, 102L)) && pairs((0L, 101L)) && pairs((0L, 100L)))
    // fingerprint selection is one narrow projection: no shuffle may
    // appear before the explode of the selected (bounded) set
    val fpPlan = TextOps.winnowFingerprints(docs).queryExecution.executedPlan.toString
    assert(!fpPlan.contains("Exchange"),
      s"winnowFingerprints must be shuffle-free:\n$fpPlan")
    // and the whole tokenize→gram→md5→select pipeline must run as the
    // single native expression (r6): no interpreted md5 transform or
    // element_at probe chain may reappear in the optimized plan. A
    // LocalRelation input would constant-fold the whole projection away,
    // so pin it on a Range-backed frame (the shape a parquet scan
    // produces).
    val ranged = spark.range(3).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j => concat(lit("w"), col("id"), lit(s"_$j"))): _*)
        .as("text"))
    val opt = TextOps.winnowFingerprints(ranged).queryExecution.optimizedPlan.toString
    assert(opt.contains("winnow_fps") && !opt.contains("md5"),
      s"fingerprint selection must be the single native expression:\n$opt")
  }

  test("native winnow_fps == built-in md5/argmin-fold composition, order included") {
    // edge shapes: empty, blank, shorter than k, exactly k tokens (one
    // gram, < w windows), exactly k+w-1 tokens (one full window), heavy
    // repetition (value-level dedup + rightmost ties), multi-space runs,
    // multi-byte text, null text
    val rep = ("dup " * 30).trim
    val d = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (900L, ""), (901L, "   "), (902L, "a b c"), (903L, "a b c d"),
      (904L, "a b c d e f g"), (905L, rep), (906L, "x  y   z    w  v u t"),
      (907L, "é 漢 ß µ ø 日 本 語"), (908L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 4), (3, 2), (2, 5), (1, 1))) {
      val both = d.select(col("doc_id"),
        graft.functions.WinnowFps.winnowFps(col("text"), k, w).as("n"),
        TextOps.winnowFpArrSpec(
          transform(TextOps.wordGrams(col("text"), k), g => md5(g)), w).as("s"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"winnow diverged (k=$k, w=$w, doc=${r.getLong(0)}): " +
            s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
      }
    }
    // whole-stage-codegen path compiles on a file-scan input and matches
    val pd = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scanBacked = pd.select(col("doc_id"),
      graft.functions.WinnowFps.winnowFps(col("text"), 4, 4).as("n"),
      TextOps.winnowFpArrSpec(
        transform(TextOps.wordGrams(col("text"), 4), g => md5(g)), 4).as("s"))
    assert(scanBacked.queryExecution.executedPlan.toString.contains("winnow_fps"))
    scanBacked.collect().foreach(r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"diverged: $r"))
  }

  test("hot-bucket caps use aggregation, not a Window sort") {
    // embeddingPairs has no per-query ranking window, so ANY Window in its
    // plan is the r3 shuffle-sort cap regression
    val rnd = new java.util.Random(5)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val emb = (0 until 30).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val plan = Dedup.embeddingPairsPlan(emb, minCos = 0.95, dim = 16, bits = 6,
      tables = 4, maxBucket = 100000L)._1.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"Window found in embeddingPairs plan:\n$plan")
  }

  test("pair operators release their intermediate caches; only results stay pinned") {
    // the r4 leak: sigs/candSh/sig caches registered per invocation and
    // never unpersisted — a long-lived session accreted cached blocks until
    // an external clearCache(). Now each pair operator materializes its
    // (small) result and releases every intermediate, so the persistent-RDD
    // registry must hold exactly the result caches afterwards.
    spark.sharedState.cacheManager.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    Dedup.minHashPairs(docs, w = 3, minJaccard = 0.8, bands = 32, rowsPerBand = 4)
    Dedup.embeddingPairs(
      (0 until 30).map(i => (i.toLong,
        Array.fill(16)(new java.util.Random(i).nextGaussian().toFloat)))
        .toDF("vec_id", "embedding"), minCos = 0.95, dim = 16, bits = 6, tables = 4)
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.size <= 2, // one cached-result RDD per operator call
      s"intermediate caches survived materialization: ${persisted.values.map(_.name)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("lsh probe masks: Hamming ball sizes are (bits choose <= d)") {
    assert(Ann.probeMasks(8, 0) == Seq(0L))
    assert(Ann.probeMasks(8, 1).size == 9)   // 1 + 8
    assert(Ann.probeMasks(8, 2).size == 37)  // 1 + 8 + 28
    assert(Ann.probeMasks(6, 2).size == 22)  // 1 + 6 + 15
    assert(Ann.probeMasks(8, 2).distinct.size == 37 &&
      Ann.probeMasks(8, 2).forall(m => m >= 0 && m < 256))
  }

  test("ivf training scan is sample-bounded above maxTrain") {
    val rnd = new java.util.Random(11)
    val emb = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    // above the cap: the training plan must contain a Sample node
    val sampled = Ann.trainingSample(emb, maxTrain = 50)
    assert(sampled.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sample => s
    }.nonEmpty, "expected a Sample node in the bounded training plan")
    // below the cap: identity (no sampling noise on small corpora)
    val full = Ann.trainingSample(emb, maxTrain = 1000)
    assert(full.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sample => s
    }.isEmpty)
    // a sample-trained quantizer still produces usable centroids
    val cs = Ann.trainIvf(emb, clusters = 4, iters = 2, maxTrain = 50)
    assert(cs.length == 4 && cs.forall(_.length == 8))
    assert(Ann.ivfTopK(emb, emb.filter($"vec_id" < 2), k = 3, dim = 8,
      clusters = 4, trained = Some(cs)).count() > 0)
  }

  test("approximate ANN recall@k against brute force is pinned at the design point") {
    val rnd = new java.util.Random(5)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(i => (i.toLong, vec()))
    val copies = bases.map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ copies).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 3)
    val exact = Ann.bruteForceTopK(emb, q, k = 3)
    val lshRec = Ann.recallAtK(exact,
        Ann.lshTopK(emb, q, k = 3, dim = 16, bits = 6, tables = 8), k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    val ivfRec = Ann.recallAtK(exact,
        Ann.ivfTopK(emb, q, k = 3, dim = 16, clusters = 8, nprobe = 4), k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    val pqRec = Ann.recallAtK(exact,
        Ann.pqTopK(emb, q, k = 3, dim = 16, m = 4, codewords = 8), k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    // multi-table LSH at 8 tables and IVF at nprobe=4/8 both recover the
    // full exact top-3 on the planted-cluster corpus (deterministic seeds)
    assert(lshRec.size == 3 && lshRec.values.forall(_ >= 1.0), s"LSH recall: $lshRec")
    assert(ivfRec.size == 3 && ivfRec.values.forall(_ >= 2.0 / 3), s"IVF recall: $ivfRec")
    assert(pqRec.size == 3 && pqRec.values.forall(_ >= 2.0 / 3), s"PQ recall: $pqRec")
  }

  test("multimodal stub: deterministic checksums over binary payloads") {
    val media = Seq(
      (1L, "hello".getBytes("UTF-8"), "text"),
      (2L, Array[Byte](0, 1, 2, 3), "image"),
      (3L, Array.empty[Byte], "audio")).toDF("media_id", "payload", "kind")
    val f1 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1(0).byte_len == 5 && f1(0).first_byte == 'h'.toInt)
    assert(f1(2).byte_len == 0 && f1(2).first_byte == -1)
  }

  test("langid flags stopword-free text as other") {
    val d = Seq((1L, "the cat is on the mat"), (2L, "wx9 qz7 kk3 blorp")).toDF("doc_id", "text")
    val m = TextOps.langId(d).select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(m(1L) == "en" && m(2L) == "other")
  }

  test("repetition signals: dup n-gram fractions on planted repeats") {
    val d = Seq(
      (1L, "a b a b a b"), // 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
      (2L, "u v w x y z"), // all distinct
      (3L, "solo")) // shorter than any gram
      .toDF("doc_id", "text")
    val m = TextOps.repetitionSignals(d)
      .select("doc_id", "dup_2gram_frac", "dup_3gram_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((0.6, 0.5)))
    assert(m(2L) == ((0.0, 0.0)))
    assert(m(3L) == ((0.0, 0.0)))
  }

  test("cross-doc dup grams: shared 8-gram counts and fraction") {
    // docs 1 and 2 share one 8-token run ("c1..c8"); doc 3 shares nothing;
    // doc 4 is shorter than 8 tokens (zero grams); doc 5 repeats the run
    // WITHIN itself only — within-doc repeats must not count as shared
    val run = "c1 c2 c3 c4 c5 c6 c7 c8"
    val d = Seq(
      (1L, s"a1 a2 $run a3"),          // 4 grams, 1 shared
      (2L, s"$run b1 b2 b3"),          // 4 grams, 1 shared
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8 d9"), // 2 grams, 0 shared
      (4L, "e1 e2 e3"),                // 0 grams
      (5L, "f0 f0 f0 f0 f0 f0 f0 f0 f0")) // 2 windows, 1 distinct gram
      .toDF("doc_id", "text")
    val m = TextOps.crossDocDupGrams(d, n = 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(m(1L) == ((4L, 1L, 0.25)))
    assert(m(2L) == ((4L, 1L, 0.25)))
    assert(m(3L) == ((2L, 0L, 0.0)))
    assert(m(4L) == ((0L, 0L, 0.0)))
    assert(m(5L) == ((1L, 0L, 0.0))) // "f0"x8 distinct-once, no other doc has it
  }

  test("cross-doc dup spans: maximal runs merge, disjoint repeats split") {
    val run8 = "c1 c2 c3 c4 c5 c6 c7 c8"
    val run10 = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    val d = Seq(
      (1L, s"a1 a2 $run8 a3"),              // one shared gram start at 3
      (2L, s"$run8 z1 z2 z3 $run8"),        // SAME shared run at 1 and 12
      (6L, s"x $run10"),                    // 3 consecutive starts -> 1 span
      (7L, s"$run10 y"))
      .toDF("doc_id", "text")
    val got = TextOps.crossDocDupSpans(d, n = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 3L, 10L, 8L),
      (2L, 1L, 8L, 8L), (2L, 12L, 19L, 8L), // disjoint repeats stay split
      (6L, 2L, 11L, 10L),                   // c1..c10 merged into one span
      (7L, 1L, 10L, 10L)))

    // applying the cut removes exactly the covered tokens, in order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val scrub = TextOps.scrubDupSpans(d, n = 8)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scrub(1L) == ((11L, 8L, md5hex("a1 a2 a3"))))
    assert(scrub(2L) == ((19L, 16L, md5hex("z1 z2 z3"))))
    assert(scrub(6L) == ((11L, 10L, md5hex("x"))))
    assert(scrub(7L) == ((11L, 10L, md5hex("y"))))
  }

  test("cross-doc dup spans + grams: fuzz vs local reference") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("t0", "t1", "t2", "t3", "t4")
    val n = 3
    for (round <- 1 to 25) {
      val docsLocal = (1L to (2 + rnd.nextInt(6)).toLong).map { id =>
        id -> Vector.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      }
      def gramsOf(toks: Vector[String]): Seq[(Int, String)] =
        (0 to toks.length - n).map(i => (i + 1, toks.slice(i, i + n).mkString(" ")))
      val perDoc = docsLocal.map { case (id, toks) => id -> gramsOf(toks) }
      val shared = perDoc.flatMap { case (id, gs) => gs.map(g => (g._2, id)) }
        .distinct.groupBy(_._1).collect { case (g, xs) if xs.size >= 2 => g }.toSet
      val expSpans = perDoc.flatMap { case (id, gs) =>
        val hits = gs.collect { case (p, g) if shared(g) => p }.sorted
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var s = -1; var prev = -2
        def close(): Unit = if (s >= 0) {
          val e = prev + n - 1
          spans += ((id, s.toLong, e.toLong, (e - s + 1).toLong))
        }
        for (p <- hits) { if (p != prev + 1) { close(); s = p }; prev = p }
        close()
        spans
      }.toSet
      val expGrams = perDoc.map { case (id, gs) =>
        val dist = gs.map(_._2).distinct
        (id, dist.size.toLong, dist.count(shared).toLong)
      }.toSet
      val df = docsLocal.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val gotSpans = TextOps.crossDocDupSpans(df, n)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(gotSpans == expSpans, s"spans diverged in round $round")
      val gotGrams = TextOps.crossDocDupGrams(df, n)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      assert(gotGrams == expGrams, s"gram counts diverged in round $round")
      // the scrub removes exactly the covered positions, order preserved
      val expScrub = docsLocal.map { case (id, toks) =>
        val covered = expSpans.collect {
          case (d2, s2, e2, _) if d2 == id => (s2 to e2)
        }.flatten.toSet
        val kept = toks.zipWithIndex.collect {
          case (tk, ix) if !covered(ix + 1L) => tk
        }
        (id, toks.length.toLong, covered.size.toLong, kept.mkString(" "))
      }.toSet
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val gotScrub = TextOps.scrubDupSpans(df, n)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(gotScrub == expScrub.map(e => (e._1, e._2, e._3, md5hex(e._4))),
        s"scrub diverged in round $round")
    }
  }

  test("contamination counts eval-overlapping distinct grams per train doc") {
    // doc 0 is "eval" (id % 50 == 0); doc 1 shares its first five tokens
    // with doc 0 (one overlapping 5-gram after distinct), doc 2 shares none
    val d = Seq(
      (0L, "q w e r t y"),
      (1L, "q w e r t zz q w e r t"), // grams include 'q w e r t' twice -> distinct once
      (2L, "m n b v c x"))
      .toDF("doc_id", "text")
    val rows = TextOps.contamination(d, n = 5, evalMod = 50)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!rows.contains(0L)) // eval docs excluded from the report
    assert(rows(1L)._1 == 1L && rows(1L)._2 == 6L)
    assert(rows(2L) == ((0L, 2L)))
  }

  test("native minhash_signature == built-in xxhash64 composition, bit-for-bit") {
    val native = Dedup.minHashSignatures(docs, w = 3, numPerms = 64)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    val spec = Dedup.minHashSignaturesSpec(docs, w = 3, numPerms = 64)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(native.keySet == spec.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == spec(id), s"doc $id signature diverged")
    }
    // and the whole-stage-codegen path actually compiles the expression
    // (file-scan input: a LocalRelation would be constant-folded away by
    // ConvertToLocalRelation and assert nothing about codegen)
    val pd = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scanBacked = Dedup.minHashSignatures(pd)
    assert(scanBacked.queryExecution.executedPlan.toString.contains("minhash_signature"))
    assert(scanBacked.count() == pd.count())

    // null elements: the built-in fold treats a null shingle as seed-
    // passthrough (hashInt(p, 42) joins the min); the native expression
    // must do the same, on both eval paths
    import org.apache.spark.sql.functions._
    val nullArr = Seq((1L, Seq(Some("a"), None, Some("b")))).toDF("doc_id", "shingles")
      .select(col("doc_id"), col("shingles").cast("array<string>").as("shingles"))
    val nNative = nullArr.select(
      graft.functions.MinHashSignature.minhashSig(col("shingles"), 16).as("sig"))
      .as[Seq[Long]].collect()(0)
    val nSpec = nullArr.select(
      aggregate(col("shingles"), array_repeat(lit(Long.MaxValue), 16),
        (acc, s) => zip_with(acc, sequence(lit(0), lit(15)),
          (a, p) => least(a, xxhash64(s, p)))).as("sig"))
      .as[Seq[Long]].collect()(0)
    assert(nNative == nSpec, s"null-element fold diverged: $nNative vs $nSpec")
  }

  test("native word_grams == built-in sequence/slice/concat_ws composition") {
    // edge shapes: repeated/leading/trailing/multiple spaces, exactly-n
    // tokens, shorter-than-n, empty, single token, multi-byte UTF-8
    val d = (Seq(
      (1L, "a b c d e"), (2L, "  x  y "), (3L, "one"), (4L, ""),
      (5L, "a a a a"), (6L, "é ß 漢 字 x"), (7L, "p q r")) ++
      (0 until 30).map(i => (100L + i, (0 until 25).map(j => s"w${(i + j) % 9}").mkString(" "))))
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5, 8)) {
      val native = d.select(col("doc_id"), TextOps.wordGrams(col("text"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val spec = d.select(col("doc_id"), TextOps.wordGramsSpec(col("text"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(native == spec, s"word_grams diverged from spec at n=$n")
    }
    // null text: the composition's CASE WHEN fallthrough yields an empty
    // array — the native wrapper's coalesce must match
    val nd = Seq((1L, Option.empty[String]), (2L, Some("a b c"))).toDF("doc_id", "text")
    val nNative = nd.select(TextOps.wordGrams(col("text"), 2).as("g"))
      .as[Seq[String]].collect().toSeq
    val nSpec = nd.select(TextOps.wordGramsSpec(col("text"), 2).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(nNative == nSpec, s"null-text behavior diverged: $nNative vs $nSpec")
    // ws_tokens: identical values to the filter(split) composition, same
    // null propagation (null text -> null array, NOT empty)
    val tokBoth = nd.select(TextOps.tokens(col("text")).as("n"),
      TextOps.tokensSpec(col("text")).as("s")).collect()
    tokBoth.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"tokens null divergence: $r")
      if (!r.isNullAt(0)) assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    for (n2 <- Seq(1, 2)) {
      val a = d.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .as[(Long, Seq[String])].collect().toMap
      val s = d.select(col("doc_id"), TextOps.tokensSpec(col("text")).as("t"))
        .as[(Long, Seq[String])].collect().toMap
      assert(a == s, s"tokens diverged from spec")
    }
    // the whole-stage-codegen path actually compiles the expression
    // (file-scan input, as in the minhash_signature test above)
    val pd = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scanBacked = pd.select(TextOps.wordGrams(col("text"), 8).as("g"),
      TextOps.tokens(col("text")).as("t"))
    assert(scanBacked.queryExecution.executedPlan.toString.contains("word_grams"))
    assert(scanBacked.queryExecution.executedPlan.toString.contains("ws_tokens"))
    assert(scanBacked.count() == pd.count())
  }

  test("native cosine_sim / hyperplane_sig / adc_cosine == built-in compositions") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
    val irregular = Seq(
      (100L, Seq.fill(63)(0.5f)),          // short vector
      (101L, Seq.empty[Float]))            // empty vector
    val vdf = (vecs ++ irregular).toDF("vec_id", "embedding")

    // cosine: bit-identical to the fold composition, incl. float->double
    // cast order (pairs include the irregular shapes -> null via zip_with)
    val pairs = vdf.as("a").crossJoin(vdf.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
    val cosBoth = pairs.select(
      Ann.cosine(col("a.embedding"), col("b.embedding")).as("n"),
      Ann.cosineSpec(col("a.embedding"), col("b.embedding")).as("s"))
      .collect()
    cosBoth.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null divergence: $r")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"cosine diverged: $r")
    }

    // hyperplane signature: identical longs for every table, incl. the
    // irregular-input -> 0 fold
    (0 until 4).foreach { t =>
      val sigBoth = vdf.select(
        Ann.lshSignature(col("embedding"), 64, 8, t).as("n"),
        Ann.lshSignatureSpec(col("embedding"), 64, 8, t).as("s")).collect()
      sigBoth.foreach(r =>
        assert(r.getLong(0) == r.getLong(1), s"signature diverged at table $t: $r"))
    }

    // adc cosine: identical doubles over random codes/luts
    val m = 16; val cw = 8
    val norm2 = Seq.tabulate(m)(s => Seq.tabulate(cw)(c => 0.1 * (s + 1) + 0.01 * c))
    val rows = (0 until 30).map { i =>
      (i.toLong, Seq.fill(m)(rnd.nextInt(cw)),
        Seq.fill(m)(Seq.fill(cw)(rnd.nextGaussian())), 1.0 + rnd.nextDouble())
    }.toDF("id", "codes", "lut", "qnorm")
    val adcBoth = rows.select(
      graft.functions.VectorOps.adcCosine(col("codes"), col("lut"), col("qnorm"), norm2).as("n"),
      Ann.adcCosineSpec(norm2).as("s")).collect()
    adcBoth.foreach(r =>
      assert(r.getDouble(0) == r.getDouble(1), s"adc diverged: $r"))

    // whole-stage-codegen path compiles (file-scan input, as above)
    val pe = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val compiled = pe.as("a").join(pe.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(Ann.cosine(col("a.embedding"), col("b.embedding")).as("c"),
        Ann.lshSignature(col("a.embedding"), 64, 8).as("g"))
    assert(compiled.queryExecution.executedPlan.toString.contains("cosine_sim"))
    assert(compiled.queryExecution.executedPlan.toString.contains("hyperplane_sig"))
    assert(compiled.count() > 0)
  }

  test("native simhash64 == built-in getbit/vote composition, bit-for-bit") {
    val d = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((900L, ""), (901L, "  "), (902L, "one"), (903L, "é 漢 ß")))
      .toDF("doc_id", "text")
    val native = Dedup.simHash(d).as[(Long, Long)].collect().toMap
    val spec = Dedup.simHashSpec(d).as[(Long, Long)].collect().toMap
    assert(native == spec, s"simhash diverged")
    // codegen path compiles on a file-scan input
    val pd = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scanBacked = Dedup.simHash(pd)
    assert(scanBacked.queryExecution.executedPlan.toString.contains("simhash64"))
    assert(scanBacked.count() == pd.count())
  }

  test("native pq_code == built-in slice/zip_with argmin composition") {
    val rnd = new scala.util.Random(11)
    def books(m: Int, cw: Int, d0: Int): Array[Array[Array[Double]]] =
      Array.fill(m, cw, d0)(rnd.nextGaussian())

    // regular vectors + every irregular shape the slice/zip_with fold
    // nulls out: short (one partial subspace), very short, empty, null
    // array, null element mid-vector
    val regular = (0 until 40).map(i => (i.toLong,
      Seq.fill[Option[Float]](64)(Some(rnd.nextGaussian().toFloat))))
    val irregular = Seq(
      (100L, Seq.fill[Option[Float]](63)(Some(0.5f))),
      (101L, Seq.fill[Option[Float]](3)(Some(1.0f))),
      (102L, Seq.empty[Option[Float]]),
      (103L, null.asInstanceOf[Seq[Option[Float]]]),
      (104L, Seq.tabulate[Option[Float]](64)(i => if (i == 17) None else Some(0.3f))))
    val vdf = (regular ++ irregular).toDF("vec_id", "embedding")

    // duplicate codewords force exact score ties — both sides must pick
    // the FIRST minimal codeword
    val tied = books(16, 8, 4)
    tied.foreach(b => b(5) = b(2).clone())

    Seq(books(16, 32, 4), books(8, 16, 8), tied).foreach { bs =>
      val d0 = bs(0)(0).length
      val both = vdf.select(Ann.pqCodeExpr(bs, d0).as("n"), Ann.pqCodeSpec(bs, d0).as("s"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Any](0) == r.getSeq[Any](1),
          s"pq_code diverged (m=${bs.length}, d0=$d0): ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}")
      }
    }

    // whole-stage-codegen path compiles on a file-scan input and matches
    // the interpreted spec there too
    val pe = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bs = books(16, 32, 4)
    val scanBacked = pe.select(Ann.pqCodeExpr(bs, 4).as("n"), Ann.pqCodeSpec(bs, 4).as("s"))
    assert(scanBacked.queryExecution.executedPlan.toString.contains("pq_code"))
    scanBacked.collect().foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
  }

  test("pq_code column holds its own codebook copy; codeword widths must equal d0") {
    val rnd = new scala.util.Random(12)
    val bs = Array.fill(16, 8, 4)(rnd.nextGaussian())
    val vdf = (0 until 20).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val codesCol = Ann.pqCodeExpr(bs, 4)
    def codes(): Seq[Seq[Any]] =
      vdf.orderBy("vec_id").select(codesCol).collect().toSeq.map(_.getSeq[Any](0))
    val before = codes()
    // move every codeword far away in place: a live view would re-encode
    // every vector to a different (or the first) codeword
    bs.foreach(_.foreach(c => java.util.Arrays.fill(c, 1e6)))
    assert(codes() == before)

    val ragged = Array.fill(16, 8, 4)(0.0)
    ragged(3)(5) = Array(0.0, 0.0)
    assertThrows[IllegalArgumentException](Ann.pqCodeExpr(ragged, 4))
    assertThrows[IllegalArgumentException](Ann.pqCodeExpr(Array.fill(16, 8, 4)(0.0), 8))
  }

  test("quality mean_token_len: translate-based count == interpreted fold") {
    val d = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (900L, ""), (901L, "   "), (902L, " padded  twice "), (903L, "é 漢漢 ßµø"),
      (904L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val toks = TextOps.tokens(col("text"))
    val n = size(toks)
    val specMean = when(n > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n)
      .otherwise(0.0)
    val got = TextOps.qualityScore(d).select(col("doc_id"), col("mean_token_len"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    d.select(col("doc_id"), round(specMean, 4).as("m")).collect().foreach { r =>
      assert(got(r.getLong(0)) == r.getDouble(1),
        s"mean_token_len diverged for doc ${r.getLong(0)}")
    }
  }

  test("quality filter reports the first failed rule; source mix shares sum to 1") {
    val d = Seq(
      (1L, "too short", "en", "s0"),
      (2L, ("a b " * 20) + "good enough tokens here for the window", "en", "s0"),
      (3L, "x ! @ # $ % ^ & * ( ) ! @ # $ % ^ & * ( )", "en", "s1"),
      (4L, "perfectly normal words repeated never in this document body here", "zh", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val f = TextOps.qualityFilter(d).as[(Long, Boolean, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(f(1L) == ((false, "too_short")))
    assert(f(2L) == ((false, "repetition")))
    assert(f(3L) == ((false, "punct")))
    assert(f(4L) == ((false, "lang")))
    val mix = TextOps.sourceMix(d).as[(String, String, Long, Long, Double)].collect()
    assert(math.abs(mix.map(_._5).sum - 1.0) < 1e-4)
    assert(mix.length == 3) // (s0,en), (s1,en), (s1,zh)
  }

  test("pii scrub redacts emails and ips and counts them") {
    val d = Seq(
      (1L, "write bob.smith@corp.example now"),
      (2L, "server at 192.168.0.1 and 10.0.0.7"),
      (3L, "nothing here"))
      .toDF("doc_id", "text")
    val out = TextOps.piiScrub(d, org.apache.spark.sql.functions.col("text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 1 && out(1L)._3 == 0)
    assert(out(2L)._2 == 0 && out(2L)._3 == 2)
    assert(out(3L)._2 == 0 && out(3L)._3 == 0)
    // digest of doc 3 equals md5 of the untouched text
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("nothing here".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(3L)._4 == md)
  }

  test("mixSample: deterministic per-source keep set, quota 1.0 keeps all") {
    val d = (0L until 400L).map(i => (i, s"t$i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val quotas = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val keep = TextOps.mixSample(d, quotas, defaultQuota = 0.25)
      .as[(Long, String)].collect().toSet
    // quota 1.0 keeps every src0 doc (the "g" keep-all branch); 0.0 none
    assert(keep.count(_._2 == "src0") == 100)
    assert(!keep.exists(_._2 == "src2"))
    // default applies to the unlisted source, roughly a quarter kept
    val dflt = keep.count(_._2 == "src3")
    assert(dflt > 5 && dflt < 50, s"default-quota kept $dflt of 100")
    // decision is a pure function of doc_id: a re-run and a repartitioned
    // input produce the identical set (the property sample() lacks)
    val again = TextOps.mixSample(d.repartition(7), quotas, defaultQuota = 0.25)
      .as[(Long, String)].collect().toSet
    assert(again == keep)
  }

  test("dupClusters fuzz: 30 random graphs vs a local union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 30) {
      val n = 2 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(60)
      val pairs = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a <= b) (a, b + 1) else (b, a) // distinct endpoints, any order
      }.distinct
      // reference: plain union-find over the same edges
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val want = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.dupClusters(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial (n=$n m=$m): $got != $want")
    }
  }

  test("mixSample monotonicity: a higher quota keeps a superset") {
    val d = (0L until 300L).map(i => (i, s"x$i", "s")).toDF("doc_id", "text", "source")
    val keeps = Seq(0.1, 0.3, 0.6, 0.9, 1.0).map { q =>
      TextOps.mixSample(d, Map("s" -> q)).as[(Long, String)].collect().map(_._1).toSet
    }
    keeps.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), s"quota increase dropped docs: ${lo -- hi}")
    }
    assert(keeps.last.size == 300) // quota 1.0 keeps everything
  }

  test("dupClusters: smallest-label propagation over chains, cycles, singletons") {
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round), triangle
    // 10-11-12 with a redundant edge (cycle must still converge), and an
    // isolated pair 20-21; node 99 appears in no pair and must be absent
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }
}
