package graft.pipeline

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine is the exactness baseline (a broadcast-join +
  * codegen'd dot product — fine when the query set is small); the LSH
  * variant buckets by random-hyperplane signs so each query only scans its
  * bucket — the 100 TB path (bucket cardinality ~ n/2^bits, tunable). */
object Ann {

  /** Cosine similarity of two float-array columns, computed in double with
    * left-fold summation (matches DuckDB's list_cosine_similarity within
    * 1e-15). Native codegen expression ([[graft.functions.CosineSim]]) —
    * the previous `aggregate`/`zip_with` composition evaluated interpreted
    * (higher-order functions are CodegenFallback) at ~45 µs per cosine,
    * dominating every ANN battery entry; the native kernel is pinned
    * value-identical (same fold order, same null semantics) in
    * PipelineSpec. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineSim(a, b)

  /** The pre-r6 built-in composition of [[cosine]] — the executable spec
    * the native expression is pinned against (PipelineSpec). */
  private[graft] def cosineSpec(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  /** Exact top-k cosine neighbors for the query vectors (broadcast the
    * small query side; the corpus side streams — one narrow pass + a top-k
    * per query via window). */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val joined = embeddings.as("e")
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        col("e.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("e.vec_id").as("neighbor_id"),
        cosine(col("qv"), col("e.embedding")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rank"))
  }

  /** Hyperplane coefficient for (plane, dim-index): the same value the
    * Catalyst expression `xxhash64(lit(plane), i) / Long.MaxValue` yields
    * (seed 42, ints hashed in child order), but computed ONCE driver-side —
    * the coefficients are data-independent, so evaluating the hash chain
    * per row (4,096 hashes/row at 8 tables × 8 bits × 64 dims) was pure
    * waste. */
  private def hyperplane(plane: Int, dim: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val seedHash = XXH64.hashInt(plane, 42L)
    Array.tabulate(dim)(i => XXH64.hashInt(i, seedHash).toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane signature for one table: bit b = sign of
    * dot(v, h_{table,b}). Native codegen expression
    * ([[graft.functions.HyperplaneSig]]) — one generated loop over the
    * `bits` dot products instead of `bits` interpreted zip_with/aggregate
    * chains per row; pinned value-identical to the composition (including
    * the irregular-input → signature 0 fold) in PipelineSpec. */
  def lshSignature(v: Column, dim: Int, bits: Int, table: Int = 0): Column =
    graft.functions.VectorOps.hyperplaneSig(v,
      (0 until bits).map(b => hyperplane(table * bits + b, dim).toSeq))

  /** The pre-r6 built-in composition of [[lshSignature]] — the executable
    * spec the native expression is pinned against (PipelineSpec). */
  private[graft] def lshSignatureSpec(v: Column, dim: Int, bits: Int,
      table: Int = 0): Column =
    (0 until bits).map { b =>
      val coeffs = typedLit(hyperplane(table * bits + b, dim).toSeq)
      val dot = aggregate(
        zip_with(v, coeffs, (x, c) => x.cast("double") * c),
        lit(0.0), (a2, x) => a2 + x)
      when(dot > 0.0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** One (table, bucket) row per vector per table. */
  private def bucketed(df: DataFrame, idCol: String, dim: Int, bits: Int,
      tables: Int): DataFrame =
    df.select(col(idCol), col("embedding"),
      posexplode(array((0 until tables).map(t =>
        lshSignature(col("embedding"), dim, bits, t)): _*)))
      .toDF(idCol, "embedding", "table", "bucket")

  /** ANN via multi-table random-hyperplane LSH: candidates share a bucket
    * in ANY of `tables` tables (union), then exact cosine + per-query
    * top-k. Multi-table is the standard recall lever: miss probability is
    * (1 - p^bits)^tables for bit-agreement probability p. `multiprobe`
    * additionally probes every QUERY bucket within Hamming distance
    * `multiprobe` of its signature (multi-probe LSH — Lv et al., VLDB'07):
    * each flipped bit trades candidate volume for recall without touching
    * the indexed side, which matters on corpora whose true neighbors sit
    * below the hyperplane design point (probe expansion is query-side
    * only — `tables * (bits choose <= multiprobe)` rows, still broadcast;
    * 296/query at the default bits=8, tables=8, multiprobe=2 — the
    * committed operating point, measured recall@5 0.96 avg / 0.80 min on
    * the driver's adversarial i.i.d.-gaussian embeddings at both sf).
    * Recall < 1 by construction (report alongside brute force). */
  /** Hamming-ball probe masks for `bits`-bit signatures: all XOR patterns
    * of weight <= multiprobe — driver-side, (bits choose <= multiprobe)
    * longs (37 at bits=8, multiprobe=2). */
  private[graft] def probeMasks(bits: Int, multiprobe: Int): Seq[Long] = {
    def flips(d: Int): Seq[Long] =
      if (d == 0) Seq(0L)
      else flips(d - 1).flatMap(m => (0 until bits).map(b => m | (1L << b))).distinct
    (0 to multiprobe).flatMap(flips).distinct
  }

  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      dim: Int = 64, bits: Int = 8, tables: Int = 8,
      maxBucket: Long = 100000L, multiprobe: Int = 2): DataFrame = {
    val (out, caches) = lshTopKPlan(embeddings, queries, k, dim, bits, tables,
      maxBucket, multiprobe)
    // run to completion, keep only the (queries × k)-row result pinned,
    // release the corpus-sized signature cache — same hygiene as
    // Dedup.materialized: long-lived sessions must not accrete per-call
    // intermediate caches
    val cached = out.cache()
    cached.count()
    caches.foreach(_.unpersist())
    cached
  }

  private[graft] def lshTopKPlan(embeddings: DataFrame, queries: DataFrame, k: Int,
      dim: Int, bits: Int, tables: Int,
      maxBucket: Long, multiprobe: Int): (DataFrame, Seq[DataFrame]) = {
    // ids+buckets only (bounded at any scale), cached: the hot-bucket
    // count and the capped join side both read it — uncached, the
    // hyperplane dot products would run twice per vector
    val sigE0 = bucketed(embeddings, "vec_id", dim, bits, tables)
      .select(col("vec_id"), col("table"), col("bucket")).cache()
    // hot-bucket cap: a degenerate bucket holding a large fraction of the
    // corpus has no discriminating power and would dominate the join — drop
    // it (standard LSH hygiene; recall comes from the other tables).
    // Agg + broadcast anti-join, not a Window: partial aggregation shrinks
    // the hot key map-side instead of shuffle-sorting every signature row
    // into the straggler partition the cap is meant to prevent.
    val hot = sigE0.groupBy("table", "bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select("table", "bucket")
    val sigE = sigE0.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
    val masks: Seq[Long] = probeMasks(bits, multiprobe)
    val sigQ0 = bucketed(queries.select(col("vec_id").as("query_id"), col("embedding")),
      "query_id", dim, bits, tables)
      .select(col("query_id"), col("table"), col("bucket"))
    val sigQ =
      if (masks.size <= 1) sigQ0
      else sigQ0.select(col("query_id"), col("table"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    // dedup candidate IDS first — (table, bucket) duplicates must collapse
    // BEFORE embeddings are re-attached, so the distinct() never shuffles
    // embedding payloads
    val candIds = sigE.join(broadcast(sigQ), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val cands = candIds
      .join(embeddings.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    (cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rank")),
      Seq(sigE0))
  }

  /** Per-query recall@k of an approximate neighbor set against the exact
    * one — the dual-implementation agreement check (the reference's
    * pattern of verifying one scorer against another, e.g.
    * src/test/search/Boolean2Test.cpp:42) turned into a committed number:
    * both inputs are (query_id, neighbor_id, …) top-k frames, typically
    * [[bruteForceTopK]] vs [[lshTopK]]/[[ivfTopK]]. Deterministic for
    * fixed seeds/data, so the value is pinnable. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val qs = exact.select("query_id").distinct()
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    qs.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / k, 4).as("recall"))
  }

  private def assignExpr(cs: Array[Array[Double]]): Column = {
    val sims = array(ArraySeq.unsafeWrapArray(
      cs.map(c => cosine(col("embedding"), typedLit(c.toSeq)))): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Train the IVF coarse quantizer: deterministic Lloyd iterations
    * (seeded from the `clusters` lowest-id vectors; element-wise means via
    * one groupBy per iteration — the centroid matrix is clusters x dim
    * doubles, tiny on the driver). At corpus scale this runs ONCE per
    * index build over a sample and the centroids ship with the index;
    * [[ivfTopK]] accepts them pre-trained. */
  /** Bounded training slice for the coarse quantizer: the corpus itself
    * when small, else a seeded Bernoulli sample capped near `maxTrain`
    * vectors. Lloyd's cost is iters × |train| × clusters dot products —
    * it must scale with the CLUSTER COUNT being fitted, never the corpus
    * (at 100 TB a full-corpus scan per iteration is the difference
    * between a one-minute and a multi-hour quantizer). Deterministic for
    * a fixed input layout (seeded sample). */
  private[graft] def trainingSample(embeddings: DataFrame,
      maxTrain: Long): DataFrame = {
    val n = embeddings.count()
    if (n <= maxTrain) embeddings
    else embeddings.sample(withReplacement = false, maxTrain.toDouble / n, seed = 42)
  }

  def trainIvf(embeddings: DataFrame, clusters: Int = 16,
      iters: Int = 4, maxTrain: Long = 262144L): Array[Array[Double]] = {
    val train = trainingSample(embeddings, maxTrain)
    var centroids: Array[Array[Double]] = train
      .orderBy("vec_id").limit(clusters)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var it = 0
    while (it < iters) {
      val assigned = train.select(col("vec_id"), col("embedding"),
        assignExpr(centroids).as("cluster"))
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val next = centroids.map(_.clone()) // empty cells keep their centroid
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Per-subspace code assignment: argmin over the codebook of the L2
    * distance to the subvector — computed as ‖c‖² − 2·dot(x,c) (the ‖x‖²
    * term is constant per row, so it can't change the argmin). This is the
    * pre-r6 HOF composition, retained ONLY as the executable spec
    * [[pqCodeSpec]] is built from (PipelineSpec pins the native
    * [[graft.functions.PqCode]] bit-identical to it): the zip_with +
    * aggregate chains evaluate interpreted, and at m×codewords chains per
    * row they were the dominant cost of the encode-once corpus pass. */
  private def assignSubExpr(book: Array[Array[Double]], sub: Column): Column = {
    val scores = array(ArraySeq.unsafeWrapArray(book.map { c =>
      val dot = aggregate(zip_with(sub, typedLit(c.toSeq),
        (x, cc) => x.cast("double") * cc), lit(0.0), (a, x) => a + x)
      lit(c.map(v => v * v).sum) - lit(2.0) * dot
    }): _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** Train a product quantizer (Jégou et al., TPAMI'11): split the vector
    * into `m` subspaces of dim/m dims and run an independent deterministic
    * Lloyd per subspace on a bounded [[trainingSample]]. Returns the
    * codebooks as [subspace][codeword][subdim] — m × codewords × dim/m
    * doubles, tiny on the driver, and at corpus scale trained ONCE at
    * index build and shipped with the index (same rule as [[trainIvf]]:
    * training cost scales with the codebook being fitted, never the
    * corpus). */
  def trainPq(embeddings: DataFrame, m: Int = 16, codewords: Int = 32,
      iters: Int = 4, dim: Int = 64,
      maxTrain: Long = 262144L): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim not divisible into m=$m subspaces")
    val d0 = dim / m
    val train = trainingSample(embeddings, maxTrain)
    // init: subvectors of the `codewords` lowest-id sample vectors
    val seed = train.orderBy("vec_id").limit(codewords)
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seed.map(_.slice(s * d0, s * d0 + d0)))
    var it = 0
    while (it < iters) {
      // ALL subspaces update in ONE job per iteration: explode per-subspace
      // (s, code, subvector) structs, then a single (s, code, pos) mean —
      // Lloyd cost stays iters jobs, not iters × m. Codes come from ONE
      // native pq_code pass per row, projected to a column so the m
      // element_at uses share a single evaluation (pinned identical to
      // the per-subspace assignSubExpr composition in PipelineSpec).
      val perSub = (0 until m).map { s =>
        val sub = slice(col("embedding"), s * d0 + 1, d0)
        struct(lit(s).as("s"), element_at(col("__pq_codes"), s + 1).as("code"),
          sub.as("v"))
      }
      val means = train.withColumn("__pq_codes", pqCodeExpr(books, d0))
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.v")).as(Seq("pos", "x")))
        .groupBy("s", "code", "pos").agg(avg(col("x").cast("double")).as("mean"))
        .collect()
      val next = books.map(_.map(_.clone())) // empty cells keep their codeword
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      books = next
      it += 1
    }
    books
  }

  /** PQ code array (m small ints) for each vector — the 100 TB-resident
    * compact index: m bytes/vector at codewords ≤ 256 versus dim floats.
    * Native codegen expression ([[graft.functions.PqCode]]): one generated
    * pass over the vector instead of m × codewords interpreted
    * zip_with/aggregate folds (~1.2 ms/row at m=16, cw=32 — measured in
    * OPTIMIZATION_r06.md, change 8); pinned value-identical to [[pqCodeSpec]]
    * (same fold order, same null/tie semantics) in PipelineSpec. Every
    * codeword must be `d0` wide — the width [[pqCodeSpec]] slices by — and
    * the literal holds a copy of `books`, so later writes to the caller's
    * arrays cannot change the column. */
  private[graft] def pqCodeExpr(books: Array[Array[Array[Double]]], d0: Int): Column = {
    require(books.forall(_.forall(_.length == d0)),
      s"every PQ codeword must have the subspace width d0=$d0")
    graft.functions.VectorOps.pqCode(col("embedding"),
      books.map(_.map(_.toVector).toVector).toVector)
  }

  /** The pre-r6 built-in composition of [[pqCodeExpr]] — the executable
    * spec the native expression is pinned against (PipelineSpec). */
  private[graft] def pqCodeSpec(books: Array[Array[Array[Double]]], d0: Int): Column =
    array(books.indices.map { s =>
      assignSubExpr(books(s), slice(col("embedding"), s * d0 + 1, d0))
    }: _*)

  /** ANN via product quantization with asymmetric-distance scoring and
    * exact re-ranking: the corpus is scanned as PQ CODES only (one shuffle-
    * free pass; per row the approximate cosine is m table lookups via
    * `zip_with(codes, lut, element_at)` instead of dim multiplies — and at
    * scale the codes table is the only thing resident, dim/m·4× smaller
    * than the vectors). Per query, the lookup table dot(q_s, c_{s,j}) is
    * computed driver-side (m × codewords doubles) and broadcast; the
    * reconstructed-norm table is query-independent. The top k·`refine`
    * by approximate score are then re-ranked by exact cosine against the
    * fetched vectors (ADC + refinement, the standard IVFPQ recipe), so the
    * emitted sims are exact and directly comparable to [[bruteForceTopK]].
    * Recall < 1 by construction — report via [[recallAtK]] like LSH/IVF. */
  /** Per-query ADC lookup tables dot(q_s, c_{s,j}) plus the exact query
    * norm — driver-side, m × codewords doubles per query (the query set is
    * the small broadcast side by construction). */
  private def collectQueries(queries: DataFrame): Array[(Long, Array[Double])] =
    queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

  private def adcLuts(books: Array[Array[Array[Double]]], d0: Int,
      qRows: Array[(Long, Array[Double])]): Seq[(Long, Seq[Seq[Double]], Double)] = {
    qRows.map { case (qid, qv) =>
      val lut: Seq[Seq[Double]] = books.zipWithIndex.map { case (book, s) =>
        book.map { c =>
          var d = 0.0; var i = 0
          while (i < d0) { d += qv(s * d0 + i) * c(i); i += 1 }
          d
        }.toSeq
      }.toSeq
      (qid, lut, math.sqrt(qv.map(v => v * v).sum))
    }.toSeq
  }

  /** Approximate cosine from PQ codes: Σ_s lut[s][code_s] over the query
    * LUT column, normalized by the exact query norm and the reconstructed
    * vector norm (query-independent `norm2` table). Native codegen
    * expression ([[graft.functions.AdcCosine]]); the zip_with/element_at
    * spec it is pinned against lives in PipelineSpec. */
  private def adcCosine(norm2: Seq[Seq[Double]]): Column =
    graft.functions.VectorOps.adcCosine(col("codes"), col("lut"), col("qnorm"), norm2)

  /** The pre-r6 built-in composition of [[adcCosine]] — the executable
    * spec the native expression is pinned against (PipelineSpec). */
  private[graft] def adcCosineSpec(norm2: Seq[Seq[Double]]): Column = {
    def lookupSum(table: Column): Column =
      aggregate(zip_with(col("codes"), table,
        (cd, row) => element_at(row, cd + 1)), lit(0.0), (a, x) => a + x)
    lookupSum(col("lut")) / (col("qnorm") * sqrt(lookupSum(typedLit(norm2))))
  }

  /** Take the approx top k·refine per query, then re-rank by exact cosine
    * against the fetched vectors — the ADC + refinement tail shared by
    * [[pqTopK]] and [[ivfPqTopK]]. */
  private def refineExact(scored: DataFrame, embeddings: DataFrame,
      queries: DataFrame, k: Int, refine: Int): DataFrame = {
    val w0 = Window.partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = scored.withColumn("r0", row_number().over(w0))
      .filter(col("r0") <= k * refine)
      .select("query_id", "neighbor_id")
    val exact = cand
      .join(embeddings.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rank"))
  }

  /** Encode the corpus to PQ codes ONCE: (vec_id, codes). At scale this
    * runs at index build and the codes table is what stays resident
    * (m bytes/vector); repeated [[pqTopK]] calls pass it via `coded`
    * instead of re-encoding per query batch. */
  def encodePq(embeddings: DataFrame, books: Array[Array[Array[Double]]],
      dim: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), pqCodeExpr(books, dim / books.length).as("codes"))

  /** IVF-PQ index rows encoded once: (vec_id, cluster, codes). */
  def encodeIvfPq(embeddings: DataFrame, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], dim: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), assignExpr(centroids).as("cluster"),
      pqCodeExpr(books, dim / books.length).as("codes"))

  def pqTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      dim: Int = 64, m: Int = 16, codewords: Int = 32, refine: Int = 8,
      trained: Option[Array[Array[Array[Double]]]] = None,
      coded: Option[DataFrame] = None): DataFrame = {
    // contract: pre-encoded codes are only meaningful under the codebooks
    // that produced them — retraining here would silently score foreign
    // codes with mismatched ADC LUTs
    require(coded.isEmpty || trained.nonEmpty,
      "pqTopK: coded requires the codebooks that encoded it (pass trained)")
    val spark = embeddings.sparkSession
    val books = trained.getOrElse(trainPq(embeddings, m, codewords, dim = dim))
    val d0 = dim / m
    val codes = coded.getOrElse(encodePq(embeddings, books, dim))
    // query-independent reconstructed squared norms per (subspace, codeword)
    val norm2: Seq[Seq[Double]] =
      books.map(_.map(c => c.map(v => v * v).sum).toSeq).toSeq
    import spark.implicits._
    val qDf = adcLuts(books, d0, collectQueries(queries))
      .toDF("query_id", "lut", "qnorm")
    val scored = codes.join(broadcast(qDf), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcCosine(norm2).as("approx"))
    refineExact(scored, embeddings, queries, k, refine)
  }

  /** IVF-PQ: the coarse quantizer prunes the scan to `nprobe` cells and PQ
    * codes compress what remains — the standard billion-vector composition
    * (the resident index row is cell id + m code bytes; raw vectors are
    * only fetched for the k·refine exact re-rank). This is the flat-PQ
    * variant (codes quantize the raw vector, not the cell residual — one
    * shared codebook instead of per-cell ones; documented trade-off:
    * simpler index, slightly coarser ADC). Trains both quantizers on the
    * bounded sample when not supplied pre-trained. */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      dim: Int = 64, clusters: Int = 16, nprobe: Int = 4,
      m: Int = 16, codewords: Int = 32, refine: Int = 8,
      trainedIvf: Option[Array[Array[Double]]] = None,
      trainedPq: Option[Array[Array[Array[Double]]]] = None,
      precoded: Option[DataFrame] = None): DataFrame = {
    // same contract as [[pqTopK]]: precoded rows carry cluster ids AND pq
    // codes, so both quantizers must be the ones that encoded them
    require(precoded.isEmpty || (trainedIvf.nonEmpty && trainedPq.nonEmpty),
      "ivfPqTopK: precoded requires the centroids+codebooks that encoded it")
    val spark = embeddings.sparkSession
    val centroids = trainedIvf.getOrElse(trainIvf(embeddings, clusters))
    val books = trainedPq.getOrElse(trainPq(embeddings, m, codewords, dim = dim))
    val d0 = dim / m
    val coded = precoded.getOrElse(encodeIvfPq(embeddings, centroids, books, dim))
    val norm2: Seq[Seq[Double]] =
      books.map(_.map(c => c.map(v => v * v).sum).toSeq).toSeq
    // one driver collect of the (small) query side feeds BOTH the probe
    // lists and the ADC LUTs (was two separate collect jobs per call)
    val qRows = collectQueries(queries)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val probes = qRows.flatMap { case (qid, qv) =>
      centroids.zipWithIndex.map { case (c, ci) => (qid, ci, cos(qv, c)) }
        .sortBy(-_._3).take(nprobe).map(p => (p._1, p._2))
    }.toSeq
    import spark.implicits._
    val probeDf = probes.toDF("query_id", "cluster")
    val qDf = adcLuts(books, d0, qRows).toDF("query_id", "lut", "qnorm")
    val scored = coded.join(broadcast(probeDf), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qDf), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcCosine(norm2).as("approx"))
    refineExact(scored, embeddings, queries, k, refine)
  }

  /** ANN via an IVF (inverted-file) coarse quantizer — the other standard
    * scale path next to [[lshTopK]]: k-means centroids partition the
    * corpus into `clusters` cells; a query scans only its `nprobe` nearest
    * cells. Training is deterministic Lloyd iterations (centroids
    * initialized from the k lowest vec_ids, element-wise means via one
    * groupBy per iteration — centroid matrix is k x dim doubles, tiny on
    * the driver); assignment and search are codegen'd expressions over
    * broadcast centroid literals. Recall < 1 by construction (report
    * alongside brute force, like LSH). */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      dim: Int = 64, clusters: Int = 16, nprobe: Int = 4,
      iters: Int = 4, trained: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val centroids = trained.getOrElse(trainIvf(embeddings, clusters, iters))
    val assigned = embeddings.select(col("vec_id"), col("embedding"),
      assignExpr(centroids).as("cluster"))

    // probe list per query: nprobe closest centroids, computed driver-side
    // (see [[trainIvf]] for the index-build half — train once, query many)
    // (the query set is the small broadcast side by construction)
    val qRows = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val probes = qRows.flatMap { case (qid, qv) =>
      centroids.zipWithIndex.map { case (c, ci) => (qid, ci, cos(qv, c)) }
        .sortBy(-_._3).take(nprobe).map(p => (p._1, p._2))
    }.toSeq
    import spark.implicits._
    val probeDf = probes.toDF("query_id", "cluster")

    val cands = assigned.join(broadcast(probeDf), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"), col("rank"))
  }
}
