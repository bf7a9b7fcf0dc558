package graft.tools

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, SegmentFormat, SegmentReader}
import graft.score.{BM25, CorpusStats}
import graft.search.{BoolQ, Query, SegmentSearch, TermQ, WandDiag}

/** Single-JVM, single-thread WAND-vs-exhaustive profiler: times the raw
  * per-segment scorer loops (no Spark tasks, no scheduling) on the same
  * query batch Bench uses, and dumps the WandDiag counters so the pruning
  * behavior is visible (full evals vs deep skips). It also times and
  * counts the grouped path `IndexSearcher.searchBatch` runs: the segments
  * cut into SPARK_GRAFT_QPROF_TASKS (default 32, the local[32] layout)
  * contiguous runs, each query through one collector per run. Not part of
  * the driver contract. */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "480000").toLong
    val perSeg = sys.env.getOrElse("SPARK_GRAFT_SEG_DOCS", "15000").toInt
    val base = "/dev/shm/graft-spark"
    new File(base).mkdirs()
    val idx = s"$base/qprof-idx-$docs-$perSeg"

    if (IndexMetaIO.readLatest(idx).isEmpty) {
      val s = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.local.dir", base)
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      val corpus = SyntheticCorpus.generate(s, docs, seed = 42, avgLen = 400, vocab = 50000)
      IndexBuilder.build(s, corpus, IndexConfig(idx, docsPerSegment = perSeg,
        storePositions = false, writeDocMap = false))
      s.stop()
    }

    // distributed mode: sustained QPS through IndexSearcher.searchBatch at
    // local[32], the Bench recipe — for checking what the committed bench
    // will record without paying for the full build section
    if (sys.env.get("SPARK_GRAFT_QPROF_SPARK").contains("1")) {
      val s = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.local.dir", base)
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      val searcher = new graft.search.IndexSearcher(s, idx)
      val rnd2 = new scala.util.Random(42)
      def zt(): String = "w" + math.min(49999, math.pow(50000.0, rnd2.nextDouble()).toInt)
      def rt(): String = "w" + (5000 + rnd2.nextInt(40000))
      val batch: Seq[(String, Query)] = (1 to 4096).map { i =>
        s"q$i" -> (i % 2 match {
          case 0 => BoolQ(should = Seq.fill(2 + rnd2.nextInt(3))(TermQ(zt())))
          case _ => BoolQ(should = Seq(TermQ(rt()), TermQ(zt()), TermQ(zt())))
        })
      }
      searcher.searchBatch(batch.take(4), 10, BM25())
      val rs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        searcher.searchBatch(batch, 10, BM25(), useWand = false)
        val e = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        searcher.searchBatch(batch, 10, BM25(), useWand = true)
        val w = (System.nanoTime() - t1) / 1e9
        (e, w)
      }
      val e = rs.map(_._1).min; val w = rs.map(_._2).min
      println(f"[qprof] spark batch=4096: exh ${e}%.3f s (${4096 / e}%.0f qps)  " +
        f"wand ${w}%.3f s (${4096 / w}%.0f qps)  speedup ${e / w}%.2fx")
      s.stop()
      return
    }

    val meta = IndexMetaIO.readLatest(idx).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new File(idx, SegmentFormat.segDirName(m.segId))))
    val stats = CorpusStats(meta.numDocs, meta.avgDocLength)
    val sim = BM25()
    println(s"[qprof] ${meta.segments.size} segments, ${meta.numDocs} docs")

    // exactly Bench's batch (same RNG consumption order, seed 42)
    val rnd = new scala.util.Random(42)
    def zipfTerm(): String = "w" + math.min(49999,
      math.pow(50000.0, rnd.nextDouble()).toInt)
    def rareTerm(): String = "w" + (5000 + rnd.nextInt(40000))
    val queryBatch: Seq[(String, Query)] = (1 to 64).map { i =>
      s"q$i" -> (i % 2 match {
        case 0 => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(TermQ(zipfTerm())))
        case _ => BoolQ(should = Seq(TermQ(rareTerm()), TermQ(zipfTerm()), TermQ(zipfTerm())))
      })
    }

    // exact global df, summed across segments driver-side
    val allTerms = queryBatch.flatMap { case (_, q) => Query.allTerms(q) }.toSet
    val dfMap: Map[String, Long] = allTerms.iterator.map { t =>
      t -> readers.map(r => r.termInfo(t).map(_.df.toLong).getOrElse(0L)).sum
    }.toMap
    val df = (t: String) => dfMap.getOrElse(t, 0L)

    def runAll(useWand: Boolean): Double = {
      val t0 = System.nanoTime()
      queryBatch.foreach { case (_, q) =>
        readers.foreach { r =>
          SegmentSearch.topK(r, q, 10, sim, stats, df, useWand)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    // the searchBatch layout: contiguous runs of segments (Spark's
    // parallelize slicing), one shared collector per (run, query)
    val tasks = math.max(1, math.min(readers.size,
      sys.env.getOrElse("SPARK_GRAFT_QPROF_TASKS", "32").toInt))
    val groups = (0 until tasks).map(i =>
      readers.slice(i * readers.size / tasks, (i + 1) * readers.size / tasks))
    def runGrouped(useWand: Boolean): Double = {
      val t0 = System.nanoTime()
      queryBatch.foreach { case (_, q) =>
        groups.foreach(g => SegmentSearch.topK(g, q, 10, sim, stats, df, useWand))
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up
    runAll(useWand = false); runAll(useWand = true); runGrouped(useWand = true)

    val rounds = (1 to 5).map { _ =>
      val e = runAll(useWand = false)
      val w = runAll(useWand = true)
      val g = runGrouped(useWand = true)
      (e, w, g)
    }
    val exh = rounds.map(_._1).min
    val wand = rounds.map(_._2).min
    val grouped = rounds.map(_._3).min
    println(f"[qprof] exhaustive ${exh}%.3f s  wand ${wand}%.3f s  speedup ${exh / wand}%.2fx")
    println(f"[qprof] grouped wand ($tasks runs) ${grouped}%.3f s  speedup ${exh / grouped}%.2fx")

    def wandCounts(label: String)(run: => Double): Unit = {
      WandDiag.enabled = true
      WandDiag.reset()
      run
      WandDiag.enabled = false
      println(s"[qprof] $label rounds=${WandDiag.rounds} fullEvals=${WandDiag.fullEvals} " +
        s"blockSkips=${WandDiag.blockSkips} pivotAdvances=${WandDiag.pivotAdvances}")
    }
    wandCounts("wand")(runAll(useWand = true))
    wandCounts("grouped wand")(runGrouped(useWand = true))

    // how much work does exhaustive do? count collected docs
    var exhDocs = 0L
    queryBatch.foreach { case (_, q) =>
      readers.foreach { r =>
        val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(
          Query.rewrite(q), sim, stats, df))
        SegmentSearch.scorer(Query.rewrite(q), r, sim, stats, df, qn).foreach { s =>
          var d = s.nextDoc()
          while (d != graft.search.Scorer.NoMoreDocs) { exhDocs += 1; d = s.nextDoc() }
        }
      }
    }
    println(s"[qprof] exhaustive candidate docs=$exhDocs")

    // per-query breakdown (single segment set, both modes)
    println("[qprof] per-query (sec over all segments, min of 3):")
    queryBatch.foreach { case (id, q) =>
      def one(w: Boolean): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        readers.foreach(r => SegmentSearch.topK(r, q, 10, sim, stats, df, w))
        (System.nanoTime() - t0) / 1e9
      }.min
      val e = one(false); val w = one(true)
      val terms = q.asInstanceOf[BoolQ].should.map(_.asInstanceOf[TermQ].term)
      val dfs = terms.map(df).mkString(",")
      println(f"[qprof]   $id%-4s e=$e%.4f w=$w%.4f speedup=${e / w}%5.2f dfs=[$dfs]")
    }
  }
}
