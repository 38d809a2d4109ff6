package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.expressions.HashEmbed
import graft.functions.Vectors

/** Similarity search over embedding columns (`ArrayType(FloatType)`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH bucketed variant as the scale path (the reference's
  * HNSW ANN — get_relevant_articles.py:64-88 — re-expressed for a
  * shared-nothing engine; SURVEY.md §4 "ANN index" row).
  *
  * Scale shape: brute force is queries×corpus — fine for ≤10⁵ corpus
  * rows per query batch, and embarrassingly parallel (broadcast the
  * query batch, scan the corpus once). The LSH variant buckets the
  * corpus scan-side so each query only meets its bucket: the shuffle
  * is keyed on bucket id, fan-in ≈ corpus/2^bits.
  */
object Similarity {

  /** Rank scored (q_id, c_id, sim) candidates per query — desc sim,
    * tie-broken by candidate id so results are total-ordered and
    * reproducible — and keep the top k. Shared tail of every top-k
    * variant below.
    */
  private def rankTopK(scored: DataFrame, k: Int,
                       extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("q_id", "rank", "c_id") ++ extraCols :+ "sim").map(col): _*)
  }

  /** Exact top-k cosine neighbors for each query row.
    * `queries`/`corpus` need (idCol, vecCol). Output:
    * (q_id, rank, c_id, sim).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** J6: filtered top-k with relaxed fallback fill, as ONE ranked window
    * instead of the reference's two sequential ANN queries
    * (get_relevant_articles.py:64-113): rank candidates by
    * (same-topic desc, sim desc, id) and take k. Same-topic ("must")
    * hits always outrank fallback hits — a primary hit keeps priority
    * even when a fallback candidate scores higher — and the fallback
    * fills exactly the remainder, excluding the query's own id
    * ("must_not"). One pass, no union, no driver round-trip.
    */
  def topKWithFallback(queries: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String, topicCol: String,
                       k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(topicCol).as("q_topic"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      col(topicCol).as("c_topic"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("same_topic",
        (col("q_topic") === col("c_topic")).cast("int"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("same_topic").desc, col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("same_topic"),
        col("sim"))
  }

  /** Deterministic random hyperplanes: `bits` planes of dimension `dim`,
    * seeded — the driver-side constants are tiny and broadcast as
    * literals into the plan.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits of the vector against each hyperplane. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val planeLit = array(p.map(lit): _*)
      val d = Vectors.dot(vec, planeLit)
      when(d >= 0.0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k: queries only meet corpus rows in the same LSH
    * bucket (single shuffle on bucket id). Recall traded for a
    * 2^bits-fold reduction in compared pairs; multiprobe = also probe
    * buckets at hamming distance 1 when `multiprobe` is set.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              dim: Int, bits: Int = 8, multiprobe: Boolean = true,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val qBase = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      lshBucket(col(vecCol), planes).as("b0"))
    val probes =
      if (!multiprobe) array(col("b0"))
      else array(col("b0") +: (0 until bits).map(j =>
        col("b0").bitwiseXOR(shiftleft(lit(1L), j))): _*)
    val q = qBase.select(col("q_id"), col("q_vec"),
      explode(probes).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** A fitted IVF coarse quantizer: `nlist` k-means centroids. The
    * whole model is nlist×dim doubles on the driver (nlist=4096 at
    * 768-d ≈ 25 MB worst case, typically ≪ 1 MB) and rides into the
    * plan as ONE codegen reference object — see
    * [[graft.expressions.NearestCells]].
    */
  case class IvfModel(centroids: Array[Array[Double]],
                      fitDistQ: Option[(Double, Double)] = None) {
    def nlist: Int = centroids.length
    /** Column of the `n` nearest cell ids for a vector column. */
    def nearestCells(vec: Column, n: Int): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.NearestCells(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
          centroids, n))
    /** Euclidean distance from a vector to its NEAREST centroid — the
      * quantizer's per-row approximation error, the quantity whose
      * distribution shifts when appended data drifts away from the
      * fit. Column math over the same [[graft.expressions.CellOffset]]
      * residual kernel the PQ path quantizes.
      */
    def nearestCellDistance(vec: Column): Column = {
      val cell = element_at(nearestCells(vec, 1), 1)
      val resid = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.CellOffset(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(cell),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
          centroids, -1))
      sqrt(aggregate(resid, lit(0.0), (acc, x) => acc + x * x))
    }
    /** Persist the fitted quantizer — see [[Similarity.loadIvf]]. */
    def save(spark: SparkSession, path: String): Unit =
      writeModel(spark, path, ivfModelRows(this))
  }

  /** Train an IVF coarse quantizer ONCE, then reuse it across searches
    * — real engines amortize index build over every query; fitting per
    * query was round-3's q48 bottleneck (the fit was ~90 % of its
    * wall-time).
    *
    * The fit is deliberately driver-local Lloyd's over a BOUNDED sample
    * (`limit(trainSample).collect()` — the one sanctioned collect in
    * this engine: an index-build step whose input is capped at
    * trainSample×dim doubles regardless of corpus size, so it is
    * constant-cost at 100 TB). A coarse quantizer needs only
    * ≳40·nlist sample points, not the corpus: exactness lives in the
    * re-ranking step, and a distributed 10-iteration KMeans on the full
    * corpus costs 10 scan+shuffle rounds for centroids that are no
    * better as cell boundaries.
    */
  def fitIvf(corpus: DataFrame, vecCol: String, nlist: Int,
             trainSample: Int = 16384, maxIter: Int = 10,
             seed: Long = 42L,
             staleQuantile: Double = 0.9): IvfModel = {
    require(staleQuantile > 0.0 && staleQuantile <= 1.0,
      s"fitIvf: staleQuantile $staleQuantile outside (0, 1] — it is " +
        "persisted in the model and fed to percentile_approx at serve")
    val sample = sampleVectors(corpus, vecCol, trainSample)
    require(sample.nonEmpty, "fitIvf: no non-null training vectors")
    val centroids = lloyd(sample, nlist, maxIter, seed)
    // record the fit sample's nearest-centroid distance quantile —
    // the drift baseline [[centroidStaleness]] compares appends
    // against. Driver-local exact quantile over the already-collected
    // sample: zero extra scans.
    val dists = sample.map { p =>
      var bd = Double.PositiveInfinity
      var c = 0
      while (c < centroids.length) {
        var d = 0.0; var i = 0
        while (i < p.length) {   // dims uniform (sampleVectors requires)
          val x = p(i) - centroids(c)(i); d += x * x; i += 1
        }
        if (d < bd) bd = d
        c += 1
      }
      math.sqrt(bd)
    }
    java.util.Arrays.sort(dists)
    val qIdx = math.min(dists.length - 1,
      math.ceil(staleQuantile * dists.length).toInt - 1).max(0)
    IvfModel(centroids, Some((staleQuantile, dists(qIdx))))
  }

  /** Bounded driver-local training sample (see [[fitIvf]] scaladoc for
    * why a capped collect is the right index-build shape).
    */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
      trainSample: Int): Array[Array[Double]] = {
    val sample = corpus.select(Vectors.toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .limit(trainSample)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // ragged dims would silently train prefix-only centroids and skew
    // the fit-distance baseline — surface the corpus defect at fit
    // time instead (the F13 isValid guard is the ingestion-side twin)
    sample.headOption.foreach { h =>
      require(sample.forall(_.length == h.length),
        s"training sample has mixed vector dimensions " +
          s"(${sample.map(_.length).distinct.sorted.mkString(",")}) — " +
          "filter with Vectors.isValid before fitting")
    }
    sample
  }

  /** Driver-local Lloyd's k-means over a bounded sample — shared by the
    * IVF coarse quantizer and the PQ per-subspace codebooks.
    */
  private def lloyd(sample: Array[Array[Double]], nlist: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    val dim = sample.head.length
    val k = math.min(nlist, sample.length)
    val rnd = new scala.util.Random(seed)
    val centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    var iter = 0
    var moved = true
    while (moved && iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { p =>
        var best = 0; var bd = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = p(i) - centroids(c)(i); d += x * x; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
        counts(best) += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        // empty cell keeps its previous centroid (standard Lloyd's)
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) {
            val nv = sums(c)(i) / counts(c)
            if (nv != centroids(c)(i)) moved = true
            centroids(c)(i) = nv
            i += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** IVF (inverted-file) approximate top-k search against a fitted
    * [[IvfModel]]: each query probes its `nprobe` nearest cells and
    * ranks only those candidates exactly. The classic ANN index
    * structure (FAISS IVF-Flat shape) re-expressed relationally:
    *  - corpus assignment is ONE scan (map-side native expression, no
    *    shuffle, no per-row join);
    *  - the candidate join shuffles on cell id, fan-in ≈ corpus/nlist
    *    per cell × nprobe — the knob trading recall for compared pairs.
    * Versus [[lshTopK]]: IVF adapts cells to the data distribution
    * (better recall on clustered embeddings), LSH needs no training.
    */
  def ivfTopK(model: IvfModel, queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("cell",
        element_at(model.nearestCells(col("c_vec"), 1), 1))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("cell",
        explode(model.nearestCells(col("q_vec"), nprobe)))
    // exact re-rank within probed cells
    val scored = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** Fit-and-search convenience overload (one-shot jobs; interactive
    * and benchmarked paths should [[fitIvf]] once and reuse the model).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int, nprobe: Int = 4, trainSample: Int = 16384,
              seed: Long = 42L): DataFrame =
    ivfTopK(fitIvf(corpus, vecCol, nlist, trainSample, seed = seed),
      queries, corpus, idCol, vecCol, k, nprobe)

  /** Product-quantization codebooks: the vector space split into `m`
    * subspaces, each with its own `k`-centroid codebook. A vector
    * compresses to `m` small codes — m·log₂k bits instead of dim·32
    * (e.g. 64-d float → 8 bytes at m=8, k=256: 32×) — which is what
    * lets a 100 TB embedding corpus live in executor memory for
    * scanning. Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", IEEE TPAMI 2011.
    */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def subDim: Int = codebooks(0)(0).length
    def dim: Int = m * subDim

    /** Codes column (array<int>, length m) for a vector column: each
      * subspace's nearest codeword via the codegen'd NearestCells
      * kernel over a slice — one scan, no shuffle.
      */
    def encode(vec: Column): Column =
      array((0 until m).map { mi =>
        element_at(
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.expressions.NearestCells(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                slice(vec, mi * subDim + 1, subDim)),
              codebooks(mi), 1)), 1)
      }: _*)

    /** Approximate vector back from codes (concatenated codewords),
      * via the codegen'd PqReconstruct kernel — codebooks ride as a
      * referenced object, not inlined literals.
      */
    def reconstruct(codes: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.PqReconstruct(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(codes),
          codebooks))

    /** Persist the fitted codebooks — see [[Similarity.loadPq]]. */
    def save(spark: SparkSession, path: String): Unit =
      writeModel(spark, path, pqModelRows(this))
  }

  /** Train PQ codebooks on a bounded sample (one capped collect, like
    * [[fitIvf]]): per-subspace Lloyd's over the sample's subvectors.
    */
  def fitPq(corpus: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
            trainSample: Int = 16384, maxIter: Int = 10,
            seed: Long = 42L): PqModel = {
    val sample = sampleVectors(corpus, vecCol, trainSample)
    require(sample.nonEmpty, "fitPq: no non-null training vectors")
    val dim = sample.head.length
    require(dim % m == 0, s"fitPq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val books = (0 until m).map { mi =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(
        v, mi * subDim, (mi + 1) * subDim))
      lloyd(sub, k, maxIter, seed + mi)
    }.toArray
    PqModel(books)
  }

  /** Compress a corpus to (id, codes) — the 32×-smaller scan target. */
  def pqEncode(model: PqModel, corpus: DataFrame, idCol: String,
               vecCol: String): DataFrame =
    corpus.select(col(idCol).as("c_id"),
      model.encode(Vectors.toDouble(col(vecCol))).as("codes"))

  /** Approximate top-k over a PQ-compressed corpus: scan the codes,
    * reconstruct each candidate (two codegen'd kernels, no shuffle on
    * the corpus side), cosine against the broadcast-bounded query
    * batch, rank. Exactness knobs live in (m, k); callers wanting
    * exact final order re-rank the survivors against the uncompressed
    * vectors — which is k · queries rows, not the corpus.
    *
    * ==Superseded at scale — prefer [[ivfPqTopK]]==
    * This search reads EVERY code row per query batch; the composed
    * IVF-PQ index prunes that scan to ~nprobe/nlist of the corpus,
    * residual-encodes for finer quantization at the same (m, k)
    * budget, and re-ranks survivors exactly. Keep `pqTopK` only as
    * the flat-PQ baseline for recall comparisons (its role in the
    * q76-vs-q77 pair); new call sites should compose
    * [[fitIvfPq]] → [[ivfPqEncode]] → [[ivfPqTopK]].
    */
  def pqTopK(model: PqModel, queries: DataFrame, codes: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      Vectors.toDouble(col(vecCol)).as("q_vec"))
    val scored = codes
      .withColumn("c_vec", model.reconstruct(col("codes")))
      .join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** IVF-PQ composed index (FAISS IVFPQ shape, residual-encoded: PQ
    * codes quantize `vec − centroid[cell]`, whose spread is much
    * tighter than the raw vectors', so the same (m, k) budget buys a
    * finer quantization — Jégou et al. 2011 §IV-B): the coarse
    * quantizer prunes the scan to `nprobe` of `nlist` cells, and
    * within probed cells candidates are scored against
    * `centroid[cell] + reconstructed residual`, so the full-precision
    * corpus is only touched for the ≤ k·rerank survivors. This fixes
    * [[pqTopK]]'s 100 TB soft spot: that scan reads EVERY code row
    * per query batch; this one reads ~nprobe/nlist of them.
    */
  case class IvfPqModel(ivf: IvfModel, pq: PqModel) {
    private def offset(cell: Column, vec: Column, sign: Int): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.CellOffset(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(cell),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
          ivf.centroids, sign))
    /** `vec − centroid[cell]` — what the PQ codes quantize. */
    def residual(cell: Column, vec: Column): Column = offset(cell, vec, -1)
    /** Approximate original vector back from (cell, codes). */
    def reconstructAt(cell: Column, codes: Column): Column =
      offset(cell, pq.reconstruct(codes), 1)

    /** Persist quantizer + codebooks together — see
      * [[Similarity.loadIvfPq]].
      */
    def save(spark: SparkSession, path: String): Unit =
      writeModel(spark, path, ivfModelRows(ivf) ++ pqModelRows(pq))
  }

  // --- ANN model persistence ---------------------------------------
  // A fitted model is driver-bounded (≤ nlist·dim + m·k·subDim
  // doubles) but must outlive the JVM: a real engine fits an index
  // once and amortizes it across JOBS, not one session — the
  // reference keeps its vector collection alive across runs
  // (qdrant_io_manager.py:31-43 creates-or-reuses). The layout is a
  // tiny parquet relation (part, sub, idx, vec): engine-portable,
  // bit-exact (parquet doubles round-trip), readable from any
  // Hadoop-compatible FS, and joinable if anyone ever wants to
  // inspect centroids relationally.

  private def ivfModelRows(m: IvfModel): Seq[(String, Int, Int, Seq[Double])] =
    m.centroids.zipWithIndex.toSeq.map { case (c, i) =>
      ("ivf", -1, i, c.toSeq)
    } ++ m.fitDistQ.toSeq.map { case (q, d) =>
      ("ivfstat", -1, -1, Seq(q, d))
    }

  private def pqModelRows(m: PqModel): Seq[(String, Int, Int, Seq[Double])] =
    for {
      (book, mi) <- m.codebooks.zipWithIndex.toSeq
      (cw, ki) <- book.zipWithIndex
    } yield ("pq", mi, ki, cw.toSeq)

  private def writeModel(spark: SparkSession, path: String,
      rows: Seq[(String, Int, Int, Seq[Double])]): Unit = {
    import spark.implicits._
    rows.toDF("part", "sub", "idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted IVF coarse quantizer (the collect is bounded by
    * model size — same contract as the training-sample collect).
    */
  def loadIvf(spark: SparkSession, path: String): IvfModel = {
    // one scan for centroids AND the optional fit-distance stat row
    // (models persisted before the staleness signal have none)
    val rows = spark.read.parquet(path)
      .filter(col("part").isin("ivf", "ivfstat"))
      .select("part", "idx", "vec").collect()
    val (statRows, ivfRows) = rows.partition(_.getString(0) == "ivfstat")
    require(ivfRows.nonEmpty, s"loadIvf: no ivf rows at $path")
    val stat = statRows.headOption.map { r =>
      val v = r.getSeq[Double](2); (v(0), v(1))
    }
    IvfModel(ivfRows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray),
      stat)
  }

  /** Load persisted PQ codebooks. */
  def loadPq(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path)
      .filter(col("part") === "pq").select("sub", "idx", "vec").collect()
    require(rows.nonEmpty, s"loadPq: no pq rows at $path")
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    PqModel(books)
  }

  /** Load a persisted composed IVF-PQ model. */
  def loadIvfPq(spark: SparkSession, path: String): IvfPqModel =
    IvfPqModel(loadIvf(spark, path), loadPq(spark, path))

  /** Incremental ANN index maintenance: encode ONLY the delta against
    * the frozen model and union with the persisted index — the ANN
    * twin of [[Dedup.incrementalCandidates]]'s daily-delta shape (the
    * reference's embedding sensor loop, embedding_sensors.py:31-58,
    * embeds only new docs into the standing collection). Append ≡
    * full re-encode on the same model because [[ivfPqEncode]] is
    * row-local — cell assignment and residual codes are per-row
    * kernels with no cross-row state (spec-pinned in
    * VectorSimilaritySpec). Contract: delta ids are disjoint from
    * index ids; re-ingested ids should go through a keyed merge
    * ([[Upsert.mergeIntoPartitionedTable]]) instead of union.
    */
  def ivfPqAppend(model: IvfPqModel, index: DataFrame, delta: DataFrame,
                  idCol: String, vecCol: String): DataFrame =
    index.unionByName(ivfPqEncode(model, delta, idCol, vecCol))

  /** Centroid-staleness verdict for a batch of appended vectors: how
    * far the delta sits from the frozen quantizer, relative to the
    * data the quantizer was fit on.
    *
    * `deltaQ` is the delta's nearest-centroid distance at the SAME
    * quantile the fit recorded ([[fitIvf]]/[[fitIvfPq]] store the fit
    * sample's q-quantile distance in the model); `ratio = deltaQ /
    * fitQ`. In-distribution appends land near 1.0 — the quantizer
    * covers them as well as it covered its own training data. Drifted
    * appends (a new embedding model, a new domain) push the quantile
    * out and degrade recall silently: every vector still gets SOME
    * cell, but cells stop being tight, probes stop being selective.
    * `refitRecommended` trips at `ratio > ratioThreshold` (default
    * 1.25 — cell radii grown by a quarter is where IVF probe recall
    * visibly sags before reranking can hide it).
    *
    * Cost shape: one map-side scan of the DELTA (native residual
    * kernel + percentile_approx partial agg) — never touches the
    * standing index, so the signal is O(batch) at 100 TB.
    */
  case class StalenessReport(quantile: Double, fitQ: Double,
                             deltaQ: Double, ratio: Double,
                             refitRecommended: Boolean)

  def centroidStaleness(ivf: IvfModel, delta: DataFrame, vecCol: String,
                        ratioThreshold: Double = 1.25,
                        accuracy: Int = 10000): StalenessReport = {
    val (q, fitQ) = ivf.fitDistQ.getOrElse(throw new IllegalArgumentException(
      "centroidStaleness: model carries no fit-distance baseline — " +
        "refit with fitIvf/fitIvfPq (staleQuantile) or load a model " +
        "persisted by this version"))
    val row = delta
      .select(Vectors.toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .select(ivf.nearestCellDistance(col("v")).as("d"))
      .agg(percentile_approx(col("d"), lit(q), lit(accuracy)))
      .head()
    // empty (or all-null-vector) batch: nothing to measure, nothing to
    // flag — an ingestion loop's no-op tick must not throw
    if (row.isNullAt(0))
      return StalenessReport(q, fitQ, Double.NaN, Double.NaN,
        refitRecommended = false)
    val deltaQ = row.getDouble(0)
    val ratio = if (fitQ > 0) deltaQ / fitQ
                else if (deltaQ == 0) 1.0 else Double.PositiveInfinity
    StalenessReport(q, fitQ, deltaQ, ratio, ratio > ratioThreshold)
  }

  /** [[ivfPqAppend]] + the drift check in one call: returns the
    * appended index and the batch's [[StalenessReport]] — the shape an
    * ingestion loop wants (append now, schedule a refit when the flag
    * trips; the append itself is never blocked).
    */
  def ivfPqAppendWithStaleness(model: IvfPqModel, index: DataFrame,
                               delta: DataFrame, idCol: String,
                               vecCol: String,
                               ratioThreshold: Double = 1.25)
      : (DataFrame, StalenessReport) =
    (ivfPqAppend(model, index, delta, idCol, vecCol),
      centroidStaleness(model.ivf, delta, vecCol, ratioThreshold))

  /** Index-lifecycle delete — the other half of [[ivfPqAppend]]:
    * removed documents leave the index by ONE anti-join on id (the
    * model/codebooks are untouched — deletion never triggers a refit,
    * so daily churn costs O(index), not O(fit)). Search against the
    * pruned index can never return a deleted id. Re-cluster with a
    * fresh [[fitIvfPq]] only when drift degrades recall.
    */
  def ivfPqDelete(index: DataFrame, deletedIds: DataFrame,
                  idCol: String): DataFrame =
    index.join(deletedIds.select(col(idCol).as("c_id")),
      Seq("c_id"), "left_anti")

  /** Train coarse quantizer + PQ codebooks off ONE bounded sample
    * (single capped collect — same index-build contract as [[fitIvf]]).
    * The PQ codebooks train on the sample's RESIDUALS against their
    * nearest centroid — the distribution the codes will actually see.
    */
  def fitIvfPq(corpus: DataFrame, vecCol: String, nlist: Int = 16,
               m: Int = 8, k: Int = 16, trainSample: Int = 16384,
               maxIter: Int = 10, seed: Long = 42L,
               staleQuantile: Double = 0.9): IvfPqModel = {
    require(staleQuantile > 0.0 && staleQuantile <= 1.0,
      s"fitIvfPq: staleQuantile $staleQuantile outside (0, 1] — it is " +
        "persisted in the model and fed to percentile_approx at serve")
    val sample = sampleVectors(corpus, vecCol, trainSample)
    require(sample.nonEmpty, "fitIvfPq: no non-null training vectors")
    val dim = sample.head.length
    require(dim % m == 0, s"fitIvfPq: dim $dim not divisible by m=$m")
    val cents = lloyd(sample, nlist, maxIter, seed)
    val bestDists = new Array[Double](sample.length)
    val residuals = sample.zipWithIndex.map { case (p, pi) =>
      var best = 0; var bd = Double.PositiveInfinity
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        val ce = cents(c)
        val n = math.min(dim, ce.length)
        while (i < n) { val x = p(i) - ce(i); d += x * x; i += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      bestDists(pi) = math.sqrt(bd)
      val ce = cents(best)
      Array.tabulate(dim)(i => p(i) - (if (i < ce.length) ce(i) else 0.0))
    }
    val subDim = dim / m
    val books = (0 until m).map { mi =>
      val sub = residuals.map(v => java.util.Arrays.copyOfRange(
        v, mi * subDim, (mi + 1) * subDim))
      lloyd(sub, k, maxIter, seed + mi)
    }.toArray
    java.util.Arrays.sort(bestDists)
    val qIdx = math.min(bestDists.length - 1,
      math.ceil(staleQuantile * bestDists.length).toInt - 1).max(0)
    IvfPqModel(IvfModel(cents, Some((staleQuantile, bestDists(qIdx)))),
      PqModel(books))
  }

  /** One-scan index build: (c_id, cell, codes) with codes quantizing
    * the residual against the cell centroid. Cell assignment, residual
    * and codes are all map-side native kernels — no shuffle; at 100 TB
    * this is the once-per-corpus pass that everything else amortizes.
    */
  def ivfPqEncode(model: IvfPqModel, corpus: DataFrame, idCol: String,
                  vecCol: String): DataFrame =
    corpus.select(col(idCol).as("c_id"),
        Vectors.toDouble(col(vecCol)).as("v"))
      .select(col("c_id"), col("v"),
        element_at(model.ivf.nearestCells(col("v"), 1), 1).as("cell"))
      .select(col("c_id"), col("cell"),
        model.pq.encode(model.residual(col("cell"), col("v"))).as("codes"))

  /** Two-stage IVF-PQ search: probe `nprobe` cells, score candidates
    * by PQ-reconstructed cosine, keep k·`rerankFactor` survivors per
    * query, then re-rank ONLY the survivors exactly against the
    * uncompressed vectors. Scale shape:
    *  - the bounded query batch broadcasts, so the codes scan is
    *    pruned to probed cells by a broadcast hash join — the index
    *    never shuffles;
    *  - survivors (≤ queries·k·rerankFactor rows) broadcast into one
    *    full-precision corpus scan — no corpus shuffle there either;
    *  - the only shuffles are the two per-query top-k windows, whose
    *    input is candidates, not corpus.
    * `rerankFactor <= 0` skips the PQ survivor cut and re-ranks EVERY
    * probed candidate exactly — with `nprobe = nlist` that makes the
    * whole search provably ≡ brute force (the oracle mode q77 uses;
    * quantization then affects no output bit, so the oracle checks the
    * index plumbing while PQ fidelity stays spec-pinned).
    */
  def ivfPqTopK(model: IvfPqModel, queries: DataFrame, index: DataFrame,
                corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                nprobe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      Vectors.toDouble(col(vecCol)).as("q_vec"))
    val probes = q.withColumn("cell",
      explode(model.ivf.nearestCells(col("q_vec"), nprobe)))
    val cand0 = index.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
    val surv =
      if (rerankFactor <= 0) cand0.select(col("q_id"), col("c_id"))
      else {
        val cand = cand0.withColumn("sim",
          Vectors.cosine(col("q_vec"),
            model.reconstructAt(col("cell"), col("codes"))))
        rankTopK(cand, k * rerankFactor).select(col("q_id"), col("c_id"))
      }
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val exact = c.join(broadcast(surv), Seq("c_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(exact, k)
  }

  /** Embedding-cosine near-duplicate pairs: docs whose vectors land in
    * the same random-hyperplane bucket are compared exactly; pairs above
    * `threshold` survive. The bucketed self-join is the 100 TB shape
    * (shuffle keyed on bucket id, candidate fan-in ≈ corpus/2^bits);
    * multiprobe on the query side of [[lshTopK]] is intentionally
    * omitted here — near-dup vectors at cosine ≥ 0.9 almost always
    * share the exact bucket, and all-pairs multiprobe doubles the
    * shuffle. `bits = 0` degrades to the exact all-pairs cross join
    * (small corpora / oracle checks).
    * Output: (id_a, id_b, sim), id_a < id_b.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, dim: Int, bits: Int = 8,
                   seed: Long = 42L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val sides =
      if (bits <= 0) base.withColumn("bucket", lit(0L))
      else base.withColumn("bucket",
        lshBucket(col("vec"), hyperplanes(dim, bits, seed)))
    sides.as("a").join(sides.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Vectors.cosine(col("a.vec"), col("b.vec")).as("sim"))
      .filter(col("sim") > threshold)
  }

  /** Scalar (int8) quantization — the middle point of the compression
    * ladder (flat float32 → SQ8 4× → PQ ~32×; FAISS's SQ8 shape):
    * each vector stores per-vector (lo, scale) and one byte-range code
    * per component, `code = floor((x−lo)/scale + 0.5)`. Unlike PQ
    * there is NO trained codebook — encoding is a pure per-row
    * expression, so the whole encode/search path is deterministic and
    * directly cross-engine oracle-able (q113), and a 100 TB corpus
    * re-encodes by one scan with no fit step to version. Reconstruction
    * error is ≤ scale/2 per component (spec-pinned).
    * Output: (c_id, lo, scale, codes array<int>).
    */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = Vectors.toDouble(col(vecCol))
    df.select(col(idCol).as("c_id"), v.as("v"))
      .select(col("c_id"), col("v"),
        array_min(col("v")).as("lo"),
        ((array_max(col("v")) - array_min(col("v"))) / 255.0).as("scale"))
      .select(col("c_id"), col("lo"), col("scale"),
        when(col("scale") > 0.0,
          transform(col("v"),
            x => floor((x - col("lo")) / col("scale") + 0.5).cast("int")))
          .otherwise(transform(col("v"), _ => lit(0)))
          .as("codes"))
  }

  /** Approximate vector back from SQ8 codes: `lo + code·scale`. */
  def sq8Reconstruct(lo: Column, scale: Column, codes: Column): Column =
    transform(codes, c => lo + c.cast("double") * scale)

  /** Approximate top-k over an SQ8-compressed corpus: scan the codes,
    * reconstruct, cosine against the broadcast-bounded query batch,
    * rank — [[pqTopK]]'s shape at the 4× compression point, with no
    * training step and deterministic output (the q113 oracle replays
    * it value-for-value). Callers wanting exact final order re-rank
    * the k survivors against the uncompressed vectors, as with PQ.
    */
  def sq8TopK(queries: DataFrame, codes: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      Vectors.toDouble(col(vecCol)).as("q_vec"))
    val scored = codes
      .withColumn("c_vec",
        sq8Reconstruct(col("lo"), col("scale"), col("codes")))
      .join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** Binary (sign-bit) quantization — the far end of the compression
    * ladder (flat float32 → SQ8 4× → PQ ~32× → BQ ~32 bits/vector-
    * component → 1): each component keeps only its SIGN relative to
    * the vector's own mean (centering makes the split informative for
    * non-centered embeddings), packed 63 components per long —
    * 63, not 64, because the packing fold is `acc·2 + bit` and a bit
    * in the sign position would overflow ANSI long arithmetic (which
    * THROWS in Spark 4); one bit of the word is the price of staying
    * a pure, cross-engine-replayable expression. Hamming distance
    * between packed words estimates angular distance (the
    * sign-random-projection bound), so candidate generation is
    * popcount-cheap XORs over a ~32×-smaller relation.
    * Output: (c_id, words array<long>).
    */
  def bqEncode(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = Vectors.toDouble(col(vecCol))
    df.select(col(idCol).as("c_id"), v.as("__v"))
      .select(col("c_id"), col("__v"),
        (aggregate(col("__v"), lit(0.0), (acc, x) => acc + x) /
          size(col("__v"))).as("__mu"))
      .select(col("c_id"),
        Vectors.bound(col("__v")) { vv =>
          Vectors.bound(col("__mu")) { mu =>
            transform(
              sequence(lit(0), floor((size(vv) - 1) / 63).cast("int")),
              w => aggregate(sequence(lit(0), lit(62)), lit(0L),
                (acc, j) => acc * 2 +
                  when(w * 63 + j < size(vv) &&
                    element_at(vv, w * 63 + j + 1) > mu, 1L)
                    .otherwise(0L)))
          }
        }.as("words"))
  }

  /** Approximate top-k over a BQ corpus: hamming-rank the packed
    * words, keep `rerankFactor·k` survivors per query, re-rank them
    * EXACTLY against the uncompressed vectors. `rerankFactor ≤ 0`
    * reranks every candidate — provably ≡ [[bruteForceTopK]] (the
    * q164 oracle mode, the q48/q77 exhaustive pattern); the
    * approximate mode is recall-spec-pinned in VectorSimilaritySpec.
    * At 100 TB the packed relation is the only full scan; exact
    * vectors are touched for survivors alone (a semi-join-sized read).
    */
  def bqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, rerankFactor: Int = 4): DataFrame = {
    val codes = bqEncode(corpus, idCol, vecCol)
    val qcodes = bqEncode(queries, idCol, vecCol)
      .select(col("c_id").as("q_id"), col("words").as("q_words"))
    val cand = codes.join(broadcast(qcodes), col("q_id") =!= col("c_id"))
      .withColumn("ham",
        aggregate(zip_with(col("q_words"), col("words"),
          (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x))
    val pruned =
      if (rerankFactor <= 0) cand.select(col("q_id"), col("c_id"))
      else {
        val w = Window.partitionBy("q_id")
          .orderBy(col("ham").asc, col("c_id").asc)
        cand.withColumn("__hr", row_number().over(w))
          .filter(col("__hr") <= k * rerankFactor)
          .select(col("q_id"), col("c_id"))
      }
    val qv = queries.select(col(idCol).as("q_id"),
      Vectors.toDouble(col(vecCol)).as("q_vec"))
    val cv = corpus.select(col(idCol).as("c_id"),
      Vectors.toDouble(col(vecCol)).as("c_vec"))
    val scored = pruned
      .join(broadcast(qv), Seq("q_id"))
      .join(cv, Seq("c_id"))
      .withColumn("sim", Vectors.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): documents whose EMBEDDINGS are
    * near-identical (cosine ≥ `threshold`) are redundant even when
    * their text differs — paraphrases, templated rewrites, boilerplate
    * variants that lexical MinHash cannot see. Candidate pairs come
    * from [[nearDupPairs]] (LSH-bucketed at scale; `bits = 0` is the
    * exact all-pairs oracle mode, the same contract as q47), connected
    * components resolve via [[Dedup.resolveClusters]]' O(log n)
    * pointer jumping, and each component keeps its min-id
    * representative — the lexical [[Dedup.dropNearDupsWith]] tail,
    * re-expressed over the embedding space. (The paper buckets by
    * k-means cluster; [[IvfModel.nearestCells]] gives that variant by
    * swapping the candidate generator — both are one bucket-keyed
    * shuffle, never all-pairs.)
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int, bits: Int = 8,
                    seed: Long = 42L): DataFrame = {
    val pairs = nearDupPairs(df, idCol, vecCol, threshold, dim, bits, seed)
      .select(col("id_a"), col("id_b"))
    keepRepresentatives(df, idCol, pairs)
  }

  /** Shared SemDeDup tail: pairs → pointer-jumped components → keep
    * each component's min-id representative.
    */
  private def keepRepresentatives(df: DataFrame, idCol: String,
                                  pairs: DataFrame): DataFrame = {
    val losers = Dedup.resolveClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** [[semanticDedup]] with the PAPER's candidate generator: bucket by
    * k-means cluster (Abbas et al. §2 cluster the corpus and compare
    * within clusters) — here the cells of a fitted [[IvfModel]], so
    * the ANN index's quantizer doubles as the dedup partitioner.
    * Candidates are exact-cosine-verified within each probed cell;
    * `nprobe > 1` multiprobes boundary vectors into neighboring cells
    * (a pair straddling a cell boundary is found if EITHER side probes
    * the other's cell; the pair set is deduplicated before closure).
    * Same scale shape as the LSH variant: one bucket-keyed shuffle,
    * fan-in ≈ corpus/nlist per cell, never all-pairs; the
    * closure/survivor tail is shared code.
    */
  def semanticDedupIvf(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, model: IvfModel,
                       nprobe: Int = 1): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      Vectors.toDouble(col(vecCol)).as("vec"))
    val sides = base.withColumn("bucket",
      explode(model.nearestCells(col("vec"), nprobe)))
    val pairs = sides.as("a").join(sides.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Vectors.cosine(col("a.vec"), col("b.vec")).as("sim"))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b")).distinct()
    keepRepresentatives(df, idCol, pairs)
  }

  /** Deterministic feature-hash embedding stand-in for the reference's
    * sentence-transformer (M3, embedding_utils.py:26-92): lowercased
    * whitespace tokens hashed into `dim` signed buckets, L2-normalized
    * (null when the norm is zero). One native
    * [[graft.expressions.HashEmbed]] kernel call per row — computed
    * scan-side, codegen'd, reproducible across engines and runs; the
    * [[Dedup.Md5]] family is the one DuckDB replays.
    */
  def hashEmbedding(text: Column, dim: Int = 64,
                    hash: Dedup.SigHash = Dedup.Xx64): Column =
    ColumnBridge.column(HashEmbed(
      ColumnBridge.expression(lower(text)), dim, hash == Dedup.Md5))

  /** Feature-hash embed + per-key mean pool (the whole-table form of
    * [[hashEmbedding]] + [[vecMean]]): each doc is embedded ONCE by the
    * kernel, its dense components posexploded, and one hash-aggregate
    * on (key, idx) averages them — the only shuffle carries map-side
    * combined (sum, count) partials. Zero-norm docs (null embedding)
    * explode to nothing, so they neither contribute nor count.
    * Output: (key, idx, mean_val).
    */
  def hashEmbedMeanByKey(df: DataFrame, keyCol: String, textCol: String,
                         dim: Int,
                         hash: Dedup.SigHash = Dedup.Xx64): DataFrame =
    df.select(col(keyCol).as("key"),
        posexplode(hashEmbedding(col(textCol), dim, hash))
          .as(Seq("idx", "uv")))
      .groupBy(col("key"), col("idx"))
      .agg((sum(col("uv")) / count(lit(1))).as("mean_val"))

  /** A2 mean-pool via the typed [[graft.expressions.VecMeanAgg]]
    * Aggregator: ONE shuffle of (sums[dim], count) partials per group —
    * at 768-d this carries dim× less shuffle volume than the
    * posexplode formulation below. Output: (key, mean_vec).
    */
  def vecMeanAgg(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    val agg = udaf(new graft.expressions.VecMeanAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    df.groupBy(col(keyCol).as("key"))
      .agg(agg(col(vecCol)).as("mean_vec"))
  }

  /** Element-wise mean of grouped vectors (A2 mean-pool,
    * embedded_articles.py:167), as a relational posexplode→avg→reassemble:
    * shuffles (key, component) pairs — scales linearly, no driver state,
    * map-side partial aggregation applies.
    */
  def vecMean(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    val exploded = df.select(col(keyCol).as("key"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    exploded.groupBy("key", "pos").agg(avg("v").as("m"))
      .groupBy("key")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("mean_vec"))
  }
}
