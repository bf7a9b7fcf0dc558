package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.codec.{ByteReader, ByteWriter, IntBlockCodec}
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, Maintenance, SegmentFormat}
import graft.pipeline.{Ann, Dedup, TextOps}
import graft.score.BM25
import graft.search._
import graft.streaming.StreamingIndexer

/** Input shape of one workload. Every workload runs the same timed phases
  * (build, query, ingest; curate in traced runs only); the shape sets how
  * many documents there are, how long they are, how wide the vocabulary is
  * and how many near duplicates the curate corpus holds. */
final case class Shape(
    avgLen: Int, vocab: Int, docs: Int,
    baseDocs: Int, ingestDps: Int, appendDocs: Int,
    curateDocs: Int, curateAvgLen: Int, dupEvery: Int)

object Shape {
  val all: Map[String, Shape] = Map(
    // web pages: long documents (avg 400 tokens, 50k Zipf vocabulary)
    "web" -> Shape(avgLen = 400, vocab = 50000, docs = 5000,
      baseDocs = 2000, ingestDps = 500, appendDocs = 250,
      curateDocs = 2000, curateAvgLen = 120, dupEvery = 10),
    // short docs: SyntheticCorpus's default shape (avg 120 tokens, 50k
    // vocabulary), the shape of the curate corpus too; twice the docs of
    // web for fewer tokens in all
    "short" -> Shape(avgLen = 120, vocab = 50000, docs = 10000,
      baseDocs = 4000, ingestDps = 1000, appendDocs = 500,
      curateDocs = 2000, curateAvgLen = 120, dupEvery = 10))
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, cores: Int)

/** Benchmark harness process: generates the seeded inputs, runs the timed
  * phases against graft's public entry points, checks every output and
  * writes raw samples, spans and Spark stage records as one JSON file.
  * Metrics are derived from that file by `perfbench/report.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv("cores").toInt)
    val shape = Shape.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    new Run(o, shape).run()
  }
}

final class Run(o: Opts, shape: Shape) {
  import Run._

  private val tracer = new Tracer
  private val recorders = mutable.ArrayBuffer.empty[StageRecorder]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var spark: SparkSession = _

  private val wall0 = System.nanoTime()
  /** Progress on stderr (kept in the run log), with seconds since start. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - wall0) / 1e9}%7.2f] $msg")

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One checked operation: counts toward `attempted`, and toward
    * `failed` when the check is false or throws. */
  private def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val error = try { if (ok) None else Some(what) } catch { case e: Exception => Some(s"$what: $e") }
    error.foreach { msg =>
      failed += 1
      if (failures.size < 20) failures += msg
    }
  }

  private def dir(name: String): String = new File(o.work, name).getPath

  private def startSession(cores: Int): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (o.trace) {
      val rec = new StageRecorder(recorders.size)
      spark.sparkContext.addSparkListener(rec)
      recorders += rec
    }
    tracer.attach(spark.sparkContext)
  }

  private def stopSession(): Unit = { spark.stop(); spark = null }

  /** `count` timed rounds of one phase. A fixed count, not a time budget,
    * so every run of a workload does the same work in the same order. A
    * traced run does at least two rounds and traces every second one,
    * starting with the first: the traced rounds give the per-layer numbers,
    * and the untraced ones after them give the tracing overhead on the same
    * inputs (an upper bound, as the traced rounds are the less warm ones).
    * With `overhead = false` a traced run traces all `count` rounds. Each
    * round's wall time is kept as a `round.<phase>.<plain|traced>` sample. */
  private def rounds(phase: String, count: Int, rootSpan: Boolean = true,
      overhead: Boolean = true)(body: Int => Unit): Unit = {
    val n = if (o.trace && overhead) math.max(2, count) else count
    (0 until n).foreach { r =>
      tracer.active = o.trace && (r % 2 == 0 || !overhead)
      val s = System.nanoTime()
      if (rootSpan) tracer.span(s"$phase.round", "bench")(body(r)) else body(r)
      sample(s"round.$phase.${if (tracer.active) "traced" else "plain"}",
        (System.nanoTime() - s) / 1e9)
      tracer.active = false
    }
    heapAfterPhase()
  }

  private def heapAfterPhase(): Unit = {
    val rt = Runtime.getRuntime
    // twice: a single call now and then left the heap reading far above
    // the live set
    System.gc(); System.gc()
    sample("heap_retained_mb", (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
  }

  private def secs[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  // ---- inputs ---------------------------------------------------------------

  private def pages(n: Long, seed: Long, avgLen: Int): DataFrame =
    SyntheticCorpus.generate(spark, n, seed, avgLen, shape.vocab).select("url", "text")

  /** Ingest base corpus: every doc carries the tag `tag<idx % Tags>`, so
    * deleting one tag removes an exactly known set of docs. */
  private def taggedPages(n: Long, seed: Long): DataFrame = {
    val session = spark
    import session.implicits._
    val (avgLen, vocab) = (shape.avgLen, shape.vocab)
    spark.range(0, n, 1, o.cores).map { i =>
      (f"https://base.example.com/d/$i%09d",
        SyntheticCorpus.docText(seed, i, avgLen, vocab) + s" tag${i % Tags}")
    }.toDF("url", "text")
  }

  /** Curate corpus: every `dupEvery`-th doc is a near duplicate of one of
    * the three docs before it, with about one token in thirty replaced. */
  private def curateDocs(n: Long, seed: Long): DataFrame = {
    val session = spark
    import session.implicits._
    val (avgLen, vocab, every) = (shape.curateAvgLen, shape.vocab, shape.dupEvery)
    spark.range(0, n, 1, o.cores).map { i =>
      val text =
        if (i % every == every - 1) {
          val src = i - 1 - (i / every) % math.min(3, every - 1)
          val rnd = new java.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
          SyntheticCorpus.docText(seed, src, avgLen, vocab).split(' ')
            .map(t => if (rnd.nextInt(30) == 0) s"x${rnd.nextInt(vocab)}" else t).mkString(" ")
        } else SyntheticCorpus.docText(seed, i, avgLen, vocab)
      (i, text)
    }.toDF("doc_id", "text")
  }

  /** 64-d embeddings in 32 gaussian clusters, plus query vectors drawn
    * from the same clusters. */
  private def embeddings(n: Int, seed: Long, idBase: Long): DataFrame = {
    val session = spark
    import session.implicits._
    val centers = {
      val r = new java.util.Random(seed)
      Array.fill(32, 64)(r.nextGaussian())
    }
    (0 until n).map { i =>
      val r = new java.util.Random(seed * 7919 + idBase + i)
      val c = centers(r.nextInt(32))
      (idBase + i, c.map(x => (x + 0.35 * r.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** 60% two-to-four-term disjunctions, 25% two-term conjunctions and 15%
    * two-term phrases, all drawn from real documents of the query corpus
    * so that every query matches at least one document. The mix is exact
    * (by query number, not drawn), so it is the same for every seed. */
  private def queries(n: Int, seed: Long): IndexedSeq[(String, Query)] = {
    val rnd = new java.util.Random(seed * 31 + 17)
    (0 until n).map { i =>
      var q: Query = null
      while (q == null) {
        val toks = SyntheticCorpus.docText(seed, rnd.nextInt(shape.docs), shape.avgLen,
          shape.vocab).split(' ')
        val words = toks.filter(isWord)
        val kind = (i % 20) * 5
        if (kind < 60 && words.length >= 4) {
          val n = 2 + rnd.nextInt(3)
          q = BoolQ(should = Seq.fill(n)(words(rnd.nextInt(words.length))).distinct.map(TermQ(_)))
        } else if (kind < 85 && words.length >= 2) {
          val ts = Seq.fill(2)(words(rnd.nextInt(words.length))).distinct
          if (ts.size == 2) q = BoolQ(must = ts.map(TermQ(_)))
        } else if (kind >= 85) {
          val starts = (0 until toks.length - 1).filter(j => isWord(toks(j)) && isWord(toks(j + 1)))
          if (starts.nonEmpty) {
            val j = starts(rnd.nextInt(starts.size))
            q = PhraseQ(Seq(toks(j), toks(j + 1)))
          }
        }
      }
      s"q$i" -> q
    }
  }

  // ---- setup ----------------------------------------------------------------

  private var corpus: String = _
  /** The index of the run's first build; the query phase reads it. */
  private var queryIndex: String = _
  private var baseIndex: String = _
  private var curatePath: String = _
  private var vectorsPath: String = _
  private var queryVectorsPath: String = _

  /** Generates the corpus and builds the ingest base index. The first
    * repetition also warms the JIT and Spark's code generation. */
  private def setupOnce(rep: Int): Unit = {
    val d = dir(s"setup-$rep")
    corpus = s"$d/corpus"
    pages(shape.docs, o.seed, shape.avgLen).write.parquet(corpus)
    baseIndex = s"$d/base-index"
    IndexBuilder.build(spark, taggedPages(shape.baseDocs, o.seed + BaseSeed),
      IndexConfig(baseIndex, docsPerSegment = shape.ingestDps))
    new IndexSearcher(spark, baseIndex).search(TermQ("tag0"), K, sim)
  }

  /** Curate inputs (traced runs only). */
  private def curateSetup(): Unit = {
    curatePath = dir("curate")
    curateDocs(shape.curateDocs, o.seed + 3).write.parquet(curatePath)
    vectorsPath = dir("vectors")
    embeddings(Vectors, o.seed + 4, 0L).write.parquet(vectorsPath)
    queryVectorsPath = dir("query-vectors")
    embeddings(64, o.seed + 4, 1000000L).write.parquet(queryVectorsPath)
  }

  /** Three repetitions into fresh directories; `setup_s` takes their
    * median. A traced run reports no `setup_s` and sets up once. */
  private def setup(): Unit = {
    val reps = if (o.trace) 1 else 3
    (0 until reps).foreach { rep =>
      val (_, t) = secs(setupOnce(rep))
      sample("setup.rep_s", t)
      log(s"setup rep $rep: $t")
      if (rep < reps - 1) deleteTree(new File(dir(s"setup-$rep")))
    }
  }

  // ---- query ----------------------------------------------------------------

  private var batch: IndexedSeq[(String, Query)] = _
  private var expected: Map[String, Array[ScoredDoc]] = _

  /** Single searches per query round. A traced run takes 3 x 34, enough for
    * a p90 with ten samples beyond it. Under host CPU steal their latency
    * spreads too much between runs to gate, so an end-to-end run makes a
    * few per round only as a correctness check. */
  private def singlesPerRound: Int = if (o.trace) 34 else 2

  private def sameHits(a: Array[ScoredDoc], b: Array[ScoredDoc]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.docId == y.docId && x.score == y.score }

  /** Untimed: a BruteForce check on a small corpus, exhaustive top-k for
    * the whole query set (the reference every timed result must equal),
    * and two warm WAND batches (and, traced, single searches). */
  private def queryWarmup(): Unit = {
    bruteForceCheck()
    batch = queries(Batch, o.seed)
    val searcher = new IndexSearcher(spark, queryIndex)
    expected = searcher.searchBatch(batch, K, sim, useWand = false)
    (0 until 2).foreach { _ =>
      val warm = searcher.searchBatch(batch, K, sim)
      batch.foreach { case (id, _) => check(s"warm-up WAND == exhaustive for $id")(sameHits(warm(id), expected(id))) }
    }
    batch.take(if (o.trace) WarmSingles else 0).foreach { case (id, q) =>
      check(s"warm-up search == exhaustive for $id")(sameHits(searcher.search(q, K, sim), expected(id)))
    }
  }

  /** The executable spec: BruteForce over a small corpus with the engine's
    * doc ids (url order). */
  private def bruteForceCheck(): Unit = {
    val small = SyntheticCorpus.localPages(300, o.seed + 5, 60, 500)
    val ids = small.map(_.url).sorted.zipWithIndex.toMap
    val smallIdx = dir("bruteforce-index")
    IndexBuilder.build(spark, spark.createDataFrame(small).select("url", "text"),
      IndexConfig(smallIdx, docsPerSegment = 64))
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName("standard"),
      small.map(p => (ids(p.url).toLong, p.text)))
    val rnd = new java.util.Random(o.seed)
    val words = small.flatMap(_.text.split(' ').filter(isWord)).distinct.sorted
    val probes = (0 until 12).map { i =>
      def w() = words(rnd.nextInt(words.length))
      s"b$i" -> (if (i % 3 == 0) BoolQ(must = Seq(TermQ(w()), TermQ(w())))
        else BoolQ(should = Seq(TermQ(w()), TermQ(w()), TermQ(w()))))
    }
    val got = new IndexSearcher(spark, smallIdx).searchBatch(probes, K, sim)
    probes.foreach { case (id, q) =>
      check(s"BruteForce == engine for $q")(sameHits(got(id), BruteForce.search(corpus, q, K, sim)))
    }
  }

  private def queryPhase(count: Int): Unit = {
    var next = 0
    rounds("query", count) { _ =>
      val searcher = new IndexSearcher(spark, queryIndex)
      val (got, t) = secs(tracer.span("IndexSearcher.searchBatch", "search") {
        searcher.searchBatch(batch, K, sim)
      })
      sample("query.batch_s", t)
      batch.foreach { case (id, _) => check(s"WAND batch == exhaustive for $id")(sameHits(got(id), expected(id))) }
      // closed loop, one client: the next search starts when the last returns
      var i = 0
      while (i < singlesPerRound) {
        val (id, q) = batch(next % batch.size)
        next += 1
        val (hits, ts) = secs(tracer.span("IndexSearcher.search", "search")(searcher.search(q, K, sim)))
        sample("query.search_ms", ts * 1000)
        check(s"single search == exhaustive for $id")(sameHits(hits, expected(id)))
        i += 1
      }
      tracer.span("IndexSearcher.globalDf", "search") {
        searcher.globalDf(batch.take(256).flatMap { case (_, q) => Query.allTerms(q) }.toSet)
      }
    }
  }

  // ---- ingest ---------------------------------------------------------------

  private def tagCount(tag: Int): Long = {
    val n = shape.baseDocs.toLong
    if (tag >= n) 0L else (n - 1 - tag) / Tags + 1
  }

  /** New docs of one cycle, each marked `app<cycle>`. */
  private def appendPages(cycle: Int): DataFrame = {
    val session = spark
    import session.implicits._
    val (avgLen, vocab, seed) = (shape.avgLen, shape.vocab, o.seed + 6)
    spark.range(0, shape.appendDocs, 1, o.cores).map { i =>
      (f"https://app.example.com/c$cycle/$i%07d",
        SyntheticCorpus.docText(seed, i, avgLen, vocab) + s" app$cycle")
    }.toDF("url", "text")
  }

  /** The base docs of `tag`, re-added without the tag and marked
    * `upd<cycle>`. */
  private def readdPages(cycle: Int, tag: Int): DataFrame = {
    val session = spark
    import session.implicits._
    val (avgLen, vocab, seed) = (shape.avgLen, shape.vocab, o.seed + BaseSeed)
    spark.range(0, tagCount(tag), 1, o.cores).map { i =>
      (f"https://upd.example.com/c$cycle/$i%07d",
        SyntheticCorpus.docText(seed, tag + Tags * i, avgLen, vocab) + s" upd$cycle")
    }.toDF("url", "text")
  }

  /** Each sample copies the base index, then runs `cycles` mutate cycles:
    * append, update (delete one tag, re-add its docs), delete a second tag,
    * a probe through a newly opened searcher after every write, and a
    * compaction on every third cycle. Correctness checks run between the
    * timed calls and are not counted in the mutate-loop time. */
  private def ingestPhase(count: Int): Unit = {
    if (o.trace) {
      ingestSample("ingest-warmup", 1)
      samples.keys.filter(_.startsWith("ingest.")).toList.foreach(samples.remove)
    }
    rounds("ingest", count)(r => ingestSample(s"ingest-$r", Cycles))
  }

  private def ingestSample(name: String, cycles: Int): Unit = {
    val idx = dir(name)
    copyTree(Paths.get(baseIndex), Paths.get(idx))
    var live = shape.baseDocs.toLong
    val deletedTags = mutable.ArrayBuffer.empty[Int]
    var loopS = 0.0
    var docs = 0L
    def timed[A](f: => A): (A, Double) = { val r = secs(f); loopS += r._2; r }
    def probe(term: String, want: Int): Unit = {
      val hits = new IndexSearcher(spark, idx).search(TermQ(term), K, sim)
      check(s"probe $term returns the new docs")(hits.length == want)
    }
    (0 until cycles).foreach { c =>
      val dps = shape.ingestDps
      val app = appendPages(c)
      val (_, ta) = timed {
        tracer.span("StreamingIndexer.appendBatch", "streaming") {
          StreamingIndexer.appendBatch(spark, app, idx, docsPerSegment = dps)
        }
        probe(s"app$c", math.min(K, shape.appendDocs))
      }
      sample("ingest.refresh_ms", ta * 1000)
      live += shape.appendDocs
      docs += shape.appendDocs

      // update: delete tag c and re-add those docs without the tag
      val tag = c
      val m = tagCount(tag)
      val readd = readdPages(c, tag)
      val (_, tu) = timed {
        tracer.span("StreamingIndexer.updateDocuments", "streaming") {
          StreamingIndexer.updateDocuments(spark, idx, TermQ(s"tag$tag"), readd, docsPerSegment = dps)
        }
        probe(s"upd$c", math.min(K, m).toInt)
      }
      sample("ingest.refresh_ms", tu * 1000)
      deletedTags += tag
      docs += m

      // plain delete of a second tag
      val tag2 = Tags - 1 - c
      val (removed, _) = timed {
        tracer.span("IndexSearcher.deleteDocs", "search") {
          new IndexSearcher(spark, idx).deleteDocs(TermQ(s"tag$tag2"))
        }
      }
      check(s"deleteDocs tag$tag2 removes ${tagCount(tag2)}")(removed == tagCount(tag2))
      live -= tagCount(tag2)
      deletedTags += tag2

      if (c % CompactEvery == CompactEvery - 1) {
        val before = IndexMetaIO.readLatest(idx).get.segments.map(_.segId).toSet
        timed {
          tracer.span("Maintenance.compact", "index")(Maintenance.compact(spark, idx, dps))
        }
        val after = IndexMetaIO.readLatest(idx).get.segments
        sample("ingest.compact_bytes_rewritten",
          after.filterNot(s => before(s.segId)).map(_.bytes).sum.toDouble)
      }
      val searcher = new IndexSearcher(spark, idx)
      check(s"liveDocCount after cycle $c")(searcher.liveDocCount() == live)
      val gone = searcher.searchBatch(deletedTags.map(t => s"t$t" -> (TermQ(s"tag$t"): Query)).toSeq, K, sim)
      check(s"deleted docs stay deleted after cycle $c")(gone.values.forall(_.isEmpty))
      sample("ingest.segments_live", searcher.meta.segments.size.toDouble)
    }
    sample("ingest.loop_s", loopS)
    sample("ingest.docs", docs.toDouble)
    deleteTree(new File(idx))
  }

  // ---- curate ---------------------------------------------------------------

  /** The op suite; the dedup ops leave their pair lists cached, so callers
    * clear the cache after each pass. */
  private def curateOps(docs: DataFrame, vecs: DataFrame, qvecs: DataFrame): Seq[(String, () => DataFrame)] =
    Seq(
      "dedup" -> (() => Dedup.dupClusters(Dedup.exactJaccardPairs(docs))),
      "minhash" -> (() => Dedup.minHashPairs(docs)),
      "keywords" -> (() => TextOps.keywordExtract(docs)),
      "dup_spans" -> (() => TextOps.crossDocDupSpans(docs)),
      "contamination" -> (() => TextOps.contamination(docs)),
      "lm_quality" -> (() => TextOps.lmQuality(docs)),
      "ivf" -> (() => Ann.ivfTopK(vecs, qvecs, k = 5, dim = 64, clusters = 32)))

  /** Order-independent digest of an op's output: row count and the XOR of
    * every row's hash. */
  private def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(*))")).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  private def curateInputs(): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(curatePath), spark.read.parquet(vectorsPath),
      spark.read.parquet(queryVectorsPath))

  /** One pass of the op suite (traced runs only: at the smallest input
    * the suite costs ~15 s, which the end-to-end run cannot afford). Each op is forced by its digest, an
    * aggregate over every output column, so (as under a noop write)
    * Catalyst cannot prune the op's plan to a bare scan. Returns the
    * digests and the suite's wall time. */
  private def curateSuite(): (Map[String, String], Double) = {
    val (docs, vecs, qvecs) = curateInputs()
    var total = 0.0
    val digests = curateOps(docs, vecs, qvecs).map { case (op, f) =>
      val (d, t) = secs(tracer.span(s"pipeline.$op", "pipeline")(digest(f())))
      sample(s"curate.${op}_s", t)
      total += t
      op -> d
    }.toMap
    spark.catalog.clearCache()
    (digests, total)
  }

  /** Every timed pass must reproduce the warm-up pass's digests. */
  private def curatePhase(reference: Map[String, String]): Unit =
    rounds("curate", 1, overhead = false) { _ =>
      val (digests, total) = curateSuite()
      sample("curate.suite_s", total)
      reference.foreach { case (op, d) =>
        check(s"curate op $op digest is stable for the seed")(digests.get(op).contains(d))
      }
    }

  /** Verified pairs over candidate pairs of the banded dedup: with a
    * Jaccard floor of 0 every candidate passes verification. */
  private def dedupKeptFrac(): Double = {
    val docs = spark.read.parquet(curatePath)
    val f = Dedup.exactJaccardPairs(docs).count().toDouble /
      math.max(1L, Dedup.exactJaccardPairs(docs, minJaccard = 0.0).count())
    spark.catalog.clearCache()
    f
  }

  // ---- build ----------------------------------------------------------------

  /** Segment stats of the run's first build; every later index must
    * equal them, so doc ids do not depend on partitioning. */
  private var firstSegments: Seq[(Int, Long, Int, Long, Int, Long)] = _

  /** One `IndexBuilder.build` of the corpus into `idx`, checked against
    * the run's first build; returns its wall time. */
  private def buildOnce(cores: Int, idx: String): Double = {
    val input = spark.read.parquet(corpus)
    val (report, t) = secs(tracer.span(s"build.round.$cores", "bench") {
      tracer.span("IndexBuilder.build", "index") {
        IndexBuilder.build(spark, input, IndexConfig(idx, docsPerSegment = shape.docs / Segments))
      }
    })
    log(s"build at local[$cores]: $t")
    check(s"build at local[$cores] indexes every doc")(report.numDocs == shape.docs)
    val segments = report.meta.segments.map(m =>
      (m.segId, m.docBase, m.docCount, m.sumDocLength, m.termCount, m.postingCount))
    if (firstSegments == null) firstSegments = segments
    else check(s"build at local[$cores] equals the first build")(segments == firstSegments)
    t
  }

  /** The first build of the corpus, untimed and part of `setup_s`; its
    * index is the query index. */
  private def firstBuild(): Unit = {
    queryIndex = dir("query-index")
    sample("setup.warmup_s", buildOnce(o.cores, queryIndex))
  }

  /** Builds of the corpus at the session's width, `local[cores]`: `warm`
    * untimed ones (part of `setup_s`), then `timed` ones. A traced run
    * makes one timed build per round and no untimed one. */
  private def buildPhase(cores: Int, warm: Int, timed: Int): Unit = {
    var n = 0
    rounds(s"build.$cores", 1, rootSpan = false) { _ =>
      val w = if (o.trace) 0 else warm
      (0 until w + (if (o.trace) 1 else timed)).foreach { i =>
        val idx = dir(s"build-$cores-$n")
        n += 1
        val t = buildOnce(cores, idx)
        if (i < w) sample("setup.warmup_s", t)
        else {
          sample(s"build.s_$cores", t)
          if (cores == o.cores) sample("build.bytes", treeBytes(new File(idx)).toDouble)
        }
        deleteTree(new File(idx))
      }
    }
  }

  // ---- layer probes (traced runs only) -------------------------------------

  /** Single-threaded measurements of one layer's own functions. */
  private def layerProbes(): Unit = {
    // analysis: tokens per second over a sample of the build corpus
    val analyzer = Analyzer.byName("standard")
    val texts = spark.read.parquet(corpus).select("text").limit(1000).collect().map(_.getString(0))
    values("analysis.tokens_per_s") = rate(0.4) {
      var n = 0L
      texts.foreach { t => val it = analyzer.analyze(t); while (it.hasNext) { it.next(); n += 1 } }
      n
    }

    // codec: doc-gap blocks of the query index's longer postings lists
    val meta = IndexMetaIO.readLatest(queryIndex).get
    val segDirs = meta.segments.map(m => new File(queryIndex, SegmentFormat.segDirName(m.segId)).getPath)
    val blocks = mutable.ArrayBuffer.empty[Array[Int]]
    val reader = ReaderCache.get(segDirs.head)
    reader.allTerms.filter(_.df >= IntBlockCodec.BlockSize).take(400).foreach { ti =>
      val it = reader.postings(ti, needPositions = false)
      val gaps = mutable.ArrayBuffer.empty[Int]
      var prev = -1
      var d = it.nextDoc()
      while (d != SegmentFormat.NoMoreDocs) { gaps += d - prev; prev = d; d = it.nextDoc() }
      gaps.grouped(IntBlockCodec.BlockSize).filter(_.size == IntBlockCodec.BlockSize)
        .foreach(g => blocks += g.toArray)
    }
    val ints = blocks.size.toLong * IntBlockCodec.BlockSize
    val w = new ByteWriter(1 << 16)
    values("codec.encode_mints_per_s") = rate(0.3) {
      blocks.foreach { b => w.reset(); IntBlockCodec.encodeBlock(b, b.length, w) }
      ints
    } / 1e6
    val encoded = blocks.map { b => w.reset(); IntBlockCodec.encodeBlock(b, b.length, w); w.toArray }
    values("codec.bits_per_delta") = 8.0 * encoded.map(_.length.toLong).sum / ints
    val out = new Array[Int](IntBlockCodec.BlockSize)
    values("codec.decode_mints_per_s") = rate(0.3) {
      encoded.foreach(e => IntBlockCodec.decodeBlock(new ByteReader(e), out.length, out))
      ints
    } / 1e6

    // search: per-segment loop on this thread, outside Spark tasks, so WandDiag is exact
    ReaderCache.clear()
    val (readers, openS) = secs(segDirs.map(ReaderCache.get))
    values("search.segment_open_ms") = openS * 1000 / segDirs.size
    val searcher = new IndexSearcher(spark, queryIndex)
    val disj = batch.map(_._2).collect { case q @ BoolQ(Nil, _, Nil, 0) => q }.take(200)
    val dfMap = searcher.globalDf(disj.flatMap(Query.allTerms).toSet)
    val df = (t: String) => dfMap.getOrElse(t, 0L)
    def loop(wand: Boolean): Double = secs {
      disj.foreach(q => readers.foreach(r => SegmentSearch.topK(r, q, K, sim, searcher.stats, df, wand)))
    }._2
    loop(true); loop(false)
    WandDiag.reset(); WandDiag.enabled = true
    loop(true)
    WandDiag.enabled = false
    val nq = disj.size.toDouble
    values("search.full_evals_per_query") = WandDiag.fullEvals / nq
    values("search.block_skips_per_query") = WandDiag.blockSkips / nq
    values("search.pivot_advances_per_query") = WandDiag.pivotAdvances / nq
    val wandS = loop(true)
    val exhaustiveS = loop(false)
    values("search.score_us_per_query") = wandS * 1e6 / nq
    values("search.wand_speedup") = exhaustiveS / wandS
  }

  /** Units of work per second of `f`, repeated for at least `minS`. */
  private def rate(minS: Double)(f: => Long): Double = {
    f // warm
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minS) n += f
    n / ((System.nanoTime() - t0) / 1e9)
  }

  // ---- run ------------------------------------------------------------------

  def run(): Unit = {
    // rounds per phase; a 20-second run does about 20 s of timed work
    val scale = math.max(1, math.round(o.seconds / 20.0).toInt)
    startSession(o.cores)
    log("session started")
    setup()
    firstBuild()
    ingestPhase(scale)
    log("ingest done")
    // the query warm-up (JIT, first reader opens, reference results) is
    // part of `setup_s`; it comes after ingest, whose probes also warm
    // the search path
    sample("setup.warmup_s", secs(queryWarmup())._2)
    queryPhase(if (o.trace) 3 else 5 * scale)
    log("query done")
    // timed builds after ingest and query: the first builds after set-up
    // still run well below steady speed
    buildPhase(o.cores, 0, FullWidthBuilds * scale)
    if (o.trace) {
      curateSetup()
      val reference = curateSuite()._1
      samples.keys.filter(_.startsWith("curate.")).toList.foreach(samples.remove)
      curatePhase(reference)
      values("pipeline.dedup_pairs_kept_frac") = dedupKeptFrac()
      layerProbes()
      log("curate and layer probes done")
    }
    // last, so that every other phase runs in the `local[cores]` session
    stopSession()
    startSession(1)
    // one untimed build: the first build in a new session is the slowest
    buildPhase(1, 1, OneCoreBuilds * scale)
    log("one-core builds done")
    stopSession()
    log("session stopped")
    values("build.docs") = shape.docs
    values("query.batch_size") = Batch
    values("cores") = o.cores
    write()
  }

  private def write(): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.module.scala.DefaultScalaModule
    val json = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "config" -> (shape.productElementNames.zip(shape.productIterator).toMap ++ Map(
        "segments" -> Segments, "batch" -> Batch, "cycles" -> Cycles, "tags" -> Tags,
        "vectors" -> Vectors, "k" -> K)),
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "contexts" -> recorders.toSeq.map(_.toJson))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(o.out), mapper.writeValueAsBytes(json))
  }
}

object Run {
  val sim: BM25 = BM25()
  val K = 10
  /** Seed offset of the ingest base corpus. */
  val BaseSeed = 2
  /** Tags in the ingest base corpus; each marks baseDocs / Tags docs. */
  val Tags = 64
  /** Segments of the built index, queries per batch, mutate cycles per
    * ingest sample (a compaction every `CompactEvery`), curate vectors. */
  val Segments = 16
  val Batch = 1024
  val Cycles = 3
  val CompactEvery = 3
  val Vectors = 2000
  /** Timed `local[cores]` and `local[1]` builds of an end-to-end run;
    * each build metric is the median of its builds. */
  val FullWidthBuilds = 3
  val OneCoreBuilds = 3
  /** Untimed single searches before the timed ones of a traced run. The
    * search path (job submission and scheduling) keeps getting faster for a few hundred calls,
    * more than a run can spend; every run makes the same calls in the same
    * order, so the remaining drift is the same in every run. */
  val WarmSingles = 24

  def isWord(t: String): Boolean = t.length > 1 && t.charAt(0) == 'w' && t.drop(1).forall(_.isDigit)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length()

  def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}
