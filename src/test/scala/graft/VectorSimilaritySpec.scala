package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.operators.Similarity

/** Vector kernels + similarity-search operators (A2/M5/J5 family). */
class VectorSimilaritySpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("cosine: known values, zero-norm → null") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),   // identical → 1
      (Array(1f, 0f), Array(0f, 1f)),   // orthogonal → 0
      (Array(1f, 0f), Array(-1f, 0f)),  // opposite → -1
      (Array(0f, 0f), Array(1f, 0f))    // degenerate → null
    ).toDF("a", "b")
    val out = df.select(Vectors.cosine($"a", $"b").as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out(1).getDouble(0)) < 1e-12)
    assert(math.abs(out(2).getDouble(0) + 1.0) < 1e-12)
    assert(out(3).isNullAt(0))
  }

  test("isValid rejects wrong-size and all-zero vectors") {
    val df = Seq(Array(1f, 2f, 3f), Array(0f, 0f, 0f), Array(1f, 2f))
      .toDF("v")
    val out = df.select(Vectors.isValid($"v", 3).as("ok")).collect()
    assert(out.map(_.getBoolean(0)).toSeq == Seq(true, false, false))
  }

  test("bruteForceTopK: exact neighbors, rank-ordered, self excluded") {
    val rows = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)),
      (3L, Array(1f, 0.01f))
    ).toDF("id", "vec")
    val out = Similarity.bruteForceTopK(
        rows.filter($"id" === 0), rows, "id", "vec", 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("c_id") == 3L) // closest to (1,0)
    assert(out(1).getAs[Long]("c_id") == 1L)
    assert(out.forall(_.getAs[Long]("c_id") != 0L))
  }

  test("lshTopK achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(7)
    def cluster(cx: Double, cy: Double, n: Int, base: Int) =
      (0 until n).map(i => ((base + i).toLong, Array(
        (cx + rnd.nextGaussian() * 0.05).toFloat,
        (cy + rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat)))
    val data = (cluster(1, 0, 50, 0) ++ cluster(0, 1, 50, 100) ++
      cluster(-1, 0, 50, 200)).toDF("id", "vec")
    val queries = data.filter($"id".isin(0L, 100L, 200L))
    val exact = Similarity.bruteForceTopK(queries, data, "id", "vec", 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, data, "id", "vec", 5,
        dim = 4, bits = 6)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low: $recall")
  }

  test("topKWithFallback: same-topic hits keep priority over higher-" +
    "scoring fallback; fallback fills the remainder") {
    // query 0 (topic A, vec (1,0)); candidates: 1 = topic A sim .848,
    // 2 = topic B sim .995 (better score, wrong topic), 3 = topic A
    // sim .995, 4 = topic B sim .707
    val rows = Seq(
      (0L, "A", Array(1f, 0f)),
      (1L, "A", Array(0.9f, 0.56f)),
      (2L, "B", Array(1f, 0.1f)),
      (3L, "A", Array(1f, 0.1f)),
      (4L, "B", Array(1f, 1f))
    ).toDF("id", "topic", "vec")
    val out = Similarity.topKWithFallback(
        rows.filter($"id" === 0), rows, "id", "vec", "topic", 3)
      .orderBy("rank").collect()
    // golden (get_relevant_articles.py:64-113 semantics): the two
    // same-topic hits come first in sim order — candidate 2 scores
    // higher than candidate 1 but must NOT displace it — then the
    // best fallback fills rank 3
    assert(out.map(r => (r.getAs[Long]("c_id"),
      r.getAs[Int]("same_topic"))).toSeq ==
      Seq((3L, 1), (1L, 1), (2L, 0)))
  }

  test("hashEmbedMeanByKey matches per-row hashEmbedding + vecMean") {
    val docs = Seq(
      (1L, "a", "the quick brown fox jumps"),
      (2L, "a", "spark shuffles and partitions data"),
      (3L, "b", "completely different words here"),
      (4L, "b", "")
    ).toDF("doc_id", "lang", "text")
    val viaRow = Similarity.vecMean(
        docs.select($"lang",
          Similarity.hashEmbedding($"text", 8).as("vec"))
          .filter($"vec".isNotNull), "lang", "vec")
      .select($"key", posexplode($"mean_vec").as(Seq("idx", "v")))
      .collect().map(r => (r.getString(0), r.getInt(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val relational = Similarity.hashEmbedMeanByKey(
        docs, "lang", "text", 8)
      .collect().map(r => (r.getString(0), r.getInt(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(relational == viaRow)
  }

  test("ivfTopK achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(23)
    def cluster(cx: Double, cy: Double, n: Int, base: Int) =
      (0 until n).map(i => ((base + i).toLong, Array(
        (cx + rnd.nextGaussian() * 0.05).toFloat,
        (cy + rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat)))
    val data = (cluster(1, 0, 50, 0) ++ cluster(0, 1, 50, 100) ++
      cluster(-1, 0, 50, 200)).toDF("id", "vec")
    val queries = data.filter($"id".isin(0L, 100L, 200L))
    val exact = Similarity.bruteForceTopK(queries, data, "id", "vec", 5)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, data, "id", "vec", 5,
        nlist = 6, nprobe = 2)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
  }

  test("exhaustive oracle modes ≡ brute force EXACTLY on random data: " +
    "ivfTopK(nprobe=nlist) and ivfPqTopK(nprobe=nlist, rerankFactor=0)") {
    // the q48/q77 oracle-mode guarantee, pinned off-fixture: full
    // probing must reconstruct the complete candidate set exactly once
    // (cell partition completeness), so ranks, ids AND sims match
    // brute force bit-for-bit on arbitrary data
    val rnd = new scala.util.Random(97)
    val data = (0 until 150).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val queries = data.filter($"id" < 7)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    val exact = key(Similarity.bruteForceTopK(queries, data, "id", "vec", 5))
    val model = Similarity.fitIvf(data, "vec", nlist = 7)
    val ivf = key(Similarity.ivfTopK(model, queries, data, "id", "vec",
      5, nprobe = 7))
    assert(ivf == exact)
    val ipq = Similarity.fitIvfPq(data, "vec", nlist = 7, m = 4, k = 8)
    val index = Similarity.ivfPqEncode(ipq, data, "id", "vec")
    val ivfpq = key(Similarity.ivfPqTopK(ipq, queries, index, data,
      "id", "vec", 5, nprobe = 7, rerankFactor = 0))
    assert(ivfpq == exact)
  }

  test("fitIvf once + ivfTopK(model) matches the fit-and-search " +
    "overload and is deterministic") {
    val rnd = new scala.util.Random(31)
    val data = (0 until 120).map(i =>
      (i.toLong, Array.fill(6)((rnd.nextGaussian()).toFloat)))
      .toDF("id", "vec")
    val queries = data.filter($"id" < 3)
    val model = Similarity.fitIvf(data, "vec", nlist = 8)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(1 + 1))).toSet
    val viaModel = run(
      Similarity.ivfTopK(model, queries, data, "id", "vec", 5, nprobe = 3))
    val oneShot = run(
      Similarity.ivfTopK(queries, data, "id", "vec", 5, nlist = 8, nprobe = 3))
    assert(viaModel == oneShot)
    // same seed → identical centroids (index reproducibility)
    val refit = Similarity.fitIvf(data, "vec", nlist = 8)
    assert(model.centroids.flatten.toSeq == refit.centroids.flatten.toSeq)
  }

  test("IVF smoke at nlist=256: model stays compact, search returns " +
    "full top-k") {
    val rnd = new scala.util.Random(47)
    val data = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextGaussian()).toFloat)))
      .toDF("id", "vec")
    val model = Similarity.fitIvf(data, "vec", nlist = 256)
    assert(model.nlist <= 256 && model.nlist > 100)
    // high nprobe keeps recall sane when cells are tiny; the point here
    // is the nlist=256 plan compiles to ONE reference object, not 256
    // literal structs (plan-size bomb regression guard)
    val out = Similarity.ivfTopK(model, data.filter($"id" < 2), data,
      "id", "vec", 5, nprobe = 64)
    assert(out.groupBy("q_id").count().collect()
      .forall(_.getLong(1) == 5L))
  }

  test("nearDupPairs: LSH-bucketed mode recovers the near-dup pairs " +
    "the exact mode finds on clustered vectors") {
    val rnd = new scala.util.Random(13)
    // 30 near-identical vectors around one center + 30 spread-out ones
    val dup = (0 until 30).map(i => (i.toLong, Array.tabulate(8)(d =>
      (math.cos(d) + rnd.nextGaussian() * 0.01).toFloat)))
    val far = (100 until 130).map(i => (i.toLong, Array.fill(8)(
      (rnd.nextGaussian() * 2).toFloat)))
    val df = (dup ++ far).toDF("id", "vec")
    def pairs(bits: Int) = graft.operators.Similarity
      .nearDupPairs(df, "id", "vec", threshold = 0.999, dim = 8, bits = bits)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(0)
    val lsh = pairs(4)
    assert(exact.nonEmpty)
    assert(exact.forall { case (a, b) => a < 30 && b < 30 })
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"near-dup LSH recall too low: $recall")
  }

  test("nearDupPairs: bucketed path (bits > 0) recalls ≥ 0.95 of the " +
    "exact pairs on the sf0.01 embeddings fixture (q47's corpus)") {
    // q47 oracles the exact bits=0 path; this pins the production
    // bucketed path's recall against it on the same fixture
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val docs = emb.filter($"vec_id" < 200).unionByName(
      emb.filter($"vec_id" < 50)
        .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding"))
    val dim = emb.head.getSeq[Float](1).length
    def pairs(bits: Int) = graft.operators.Similarity
      .nearDupPairs(docs, "vec_id", "embedding", threshold = 0.8,
        dim = dim, bits = bits)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(0)
    assert(exact.size >= 50) // the 50 planted copies at sim 1.0, at least
    val bucketed = pairs(8)
    val recall = (exact intersect bucketed).size.toDouble / exact.size
    assert(recall >= 0.95, s"bucketed near-dup recall too low: $recall " +
      s"(${exact.size} exact pairs)")
  }

  test("vecMean matches manual element-wise mean") {
    val df = Seq(
      ("a", Array(1f, 2f)), ("a", Array(3f, 4f)), ("b", Array(5f, 6f))
    ).toDF("k", "vec")
    val out = Similarity.vecMean(df, "k", "vec")
      .orderBy("key").collect()
    assert(out(0).getSeq[Double](1) == Seq(2.0, 3.0))
    assert(out(1).getSeq[Double](1) == Seq(5.0, 6.0))
  }

  test("vecMeanAgg (typed Aggregator) matches the posexplode vecMean") {
    val rnd = new scala.util.Random(31)
    val df = (0 until 200).map(i =>
      (s"k${i % 5}", Array.fill(16)(rnd.nextFloat()))).toDF("k", "vec")
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getSeq[Double](1)
        .map(d => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toMap
    val viaAgg = norm(Similarity.vecMeanAgg(df, "k", "vec").collect())
    val viaExplode = norm(Similarity.vecMean(df, "k", "vec").collect())
    assert(viaAgg == viaExplode)
  }

  test("vecMeanAgg skips empty vectors and zero-pads ragged lengths " +
    "deterministically") {
    val df = Seq(
      ("a", Array.empty[Float]), ("a", Array(2f)),        // empty skipped
      ("b", Array(3f)), ("b", Array(1f, 4f))              // ragged → pad
    ).toDF("k", "vec").repartition(3)
    val out = Similarity.vecMeanAgg(df, "k", "vec")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(out("a") == Seq(2.0))
    assert(out("b") == Seq(2.0, 2.0)) // (3+1)/2, (0+4)/2
  }

  test("hashEmbedding is deterministic and L2-normalized") {
    val df = Seq("the quick brown fox", "the quick brown fox", "other text")
      .toDF("t").select(Similarity.hashEmbedding($"t", 16).as("v"))
    val rows = df.collect().map(_.getSeq[Double](0))
    assert(rows(0) == rows(1))           // deterministic
    assert(rows(0) != rows(2))
    val n = math.sqrt(rows(0).map(x => x * x).sum)
    assert(math.abs(n - 1.0) < 1e-9)
  }

  test("PQ: codes compress 8x, reconstruction stays near the input, " +
    "search recalls brute force on clustered data") {
    val rnd = new scala.util.Random(61)
    def cluster(cx: Double, cy: Double, n: Int, base: Int) =
      (0 until n).map(i => ((base + i).toLong, Array(
        (cx + rnd.nextGaussian() * 0.05).toFloat,
        (cy + rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat)))
    val data = (cluster(1, 0, 50, 0) ++ cluster(0, 1, 50, 100) ++
      cluster(-1, 0, 50, 200)).toDF("id", "vec")
    val model = Similarity.fitPq(data, "vec", m = 2, k = 16)
    val codes = Similarity.pqEncode(model, data, "id", "vec")
    // compression: 4 floats -> 2 int codes per vector
    assert(codes.head.getSeq[Int](1).length == 2)
    // reconstruction error well under the cluster spread
    val err = codes.join(
        data.select($"id".as("c_id"),
          graft.functions.Vectors.toDouble($"vec").as("orig")), "c_id")
      .select(avg(graft.functions.Vectors.cosine(
        model.reconstruct($"codes"), $"orig"))).head.getDouble(0)
    assert(err > 0.98, s"mean reconstruction cosine too low: $err")
    // recall of approximate search vs brute force
    val queries = data.filter($"id".isin(0L, 100L, 200L))
    val exact = Similarity.bruteForceTopK(queries, data, "id", "vec", 5)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(model, queries, codes, "id", "vec", 5)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall too low: $recall")
    // refit with the same seed is bit-identical (index reproducibility)
    val refit = Similarity.fitPq(data, "vec", m = 2, k = 16)
    assert(model.codebooks.flatten.flatten.toSeq ==
      refit.codebooks.flatten.flatten.toSeq)
  }

  test("IVF-PQ composed search: recall ≥ plain PQ at equal k, exact " +
    "re-rank orders survivors by true cosine") {
    val rnd = new scala.util.Random(67)
    def cluster(cx: Double, cy: Double, n: Int, base: Int) =
      (0 until n).map(i => ((base + i).toLong, Array(
        (cx + rnd.nextGaussian() * 0.05).toFloat,
        (cy + rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat,
        (rnd.nextGaussian() * 0.05).toFloat)))
    val data = (cluster(1, 0, 50, 0) ++ cluster(0, 1, 50, 100) ++
      cluster(-1, 0, 50, 200)).toDF("id", "vec")
    val queries = data.filter($"id".isin(0L, 100L, 200L))
    val exact = Similarity.bruteForceTopK(queries, data, "id", "vec", 5)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val pq = Similarity.fitPq(data, "vec", m = 2, k = 16)
    val pqCodes = Similarity.pqEncode(pq, data, "id", "vec")
    val pqHits = Similarity.pqTopK(pq, queries, pqCodes, "id", "vec", 5)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = (exact intersect pqHits).size.toDouble / exact.size

    val model = Similarity.fitIvfPq(data, "vec", nlist = 6, m = 2, k = 16)
    val index = Similarity.ivfPqEncode(model, data, "id", "vec")
    // residual encoding: (cell, codes) reconstructs the original at
    // least as faithfully as plain PQ's raw-vector codes
    val ivfPqRecon = index.join(
        data.select($"id".as("c_id"),
          graft.functions.Vectors.toDouble($"vec").as("orig")), "c_id")
      .select(avg(graft.functions.Vectors.cosine(
        model.reconstructAt($"cell", $"codes"), $"orig"))).head.getDouble(0)
    val pqRecon = pqCodes.join(
        data.select($"id".as("c_id"),
          graft.functions.Vectors.toDouble($"vec").as("orig")), "c_id")
      .select(avg(graft.functions.Vectors.cosine(
        pq.reconstruct($"codes"), $"orig"))).head.getDouble(0)
    assert(ivfPqRecon >= pqRecon - 1e-9,
      s"residual reconstruction $ivfPqRecon worse than plain PQ $pqRecon")
    assert(ivfPqRecon > 0.98, s"mean reconstruction cosine $ivfPqRecon")
    val composed = Similarity.ivfPqTopK(model, queries, index, data,
      "id", "vec", k = 5, nprobe = 3)
    val hits = composed.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect hits).size.toDouble / exact.size
    assert(recall >= pqRecall,
      s"IVF-PQ recall $recall below plain PQ $pqRecall")
    assert(recall >= 0.8, s"IVF-PQ recall too low: $recall")

    // the re-rank stage scores survivors with TRUE vectors: every
    // reported sim must equal the brute-force cosine for that pair
    val bf = Similarity.bruteForceTopK(queries, data, "id", "vec", 150)
      .select("q_id", "c_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    composed.select("q_id", "c_id", "sim").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(math.abs(r.getDouble(2) - bf(key)) < 1e-12,
        s"survivor $key not exactly re-ranked")
    }
  }

  test("IVF-PQ model save/load round-trips bit-identically: same " +
    "centroids, codebooks, encodes, and search results") {
    val rnd = new scala.util.Random(91)
    val data = (0 until 120).map(i => (i.toLong,
      Array.fill(4)((rnd.nextGaussian()).toFloat))).toDF("id", "vec")
    val model = Similarity.fitIvfPq(data, "vec", nlist = 5, m = 2, k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-annmodel")
      .toString
    model.save(spark, s"$dir/ivfpq")
    val loaded = Similarity.loadIvfPq(spark, s"$dir/ivfpq")
    // exact double equality — parquet round-trips IEEE doubles
    assert(loaded.ivf.centroids.flatten.toSeq ==
      model.ivf.centroids.flatten.toSeq)
    assert(loaded.pq.codebooks.flatten.flatten.toSeq ==
      model.pq.codebooks.flatten.flatten.toSeq)
    val origIdx = Similarity.ivfPqEncode(model, data, "id", "vec")
      .orderBy("c_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    val loadIdx = Similarity.ivfPqEncode(loaded, data, "id", "vec")
      .orderBy("c_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    assert(origIdx.toSeq == loadIdx.toSeq)
    val queries = data.filter($"id" < 3)
    val idx = Similarity.ivfPqEncode(model, data, "id", "vec")
    def run(m: Similarity.IvfPqModel) =
      Similarity.ivfPqTopK(m, queries, idx, data, "id", "vec", k = 5,
        nprobe = 3).select("q_id", "rank", "c_id", "sim")
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    assert(run(model) == run(loaded))
    // standalone IVF and PQ models round-trip too
    val ivf = Similarity.fitIvf(data, "vec", nlist = 5)
    ivf.save(spark, s"$dir/ivf")
    assert(Similarity.loadIvf(spark, s"$dir/ivf").centroids.flatten.toSeq
      == ivf.centroids.flatten.toSeq)
    val pq = Similarity.fitPq(data, "vec", m = 2, k = 8)
    pq.save(spark, s"$dir/pq")
    assert(Similarity.loadPq(spark, s"$dir/pq")
      .codebooks.flatten.flatten.toSeq ==
      pq.codebooks.flatten.flatten.toSeq)
  }

  test("ivfPqAppend ≡ full re-encode on the same model (delta rows " +
    "encode identically; index rows untouched)") {
    val rnd = new scala.util.Random(17)
    val all = (0 until 150).map(i => (i.toLong,
      Array.fill(4)((rnd.nextGaussian()).toFloat))).toDF("id", "vec")
    val base = all.filter($"id" < 100)
    val delta = all.filter($"id" >= 100)
    val model = Similarity.fitIvfPq(base, "vec", nlist = 5, m = 2, k = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("c_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
    val appended = Similarity.ivfPqAppend(model,
      Similarity.ivfPqEncode(model, base, "id", "vec"),
      delta, "id", "vec")
    val full = Similarity.ivfPqEncode(model, all, "id", "vec")
    assert(rows(appended) == rows(full))
    // search over the appended index sees delta neighbors
    val q = all.filter($"id" === 100L)
    val hits = Similarity.ivfPqTopK(model, q, appended, all, "id", "vec",
      k = 5, nprobe = 5).select("c_id").collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty)
    // lifecycle delete: pruned ids can never come back from a search,
    // and surviving rows are byte-identical (no refit, no re-encode)
    val dead = all.filter($"id" % 10 === 0).select($"id")
    val pruned = Similarity.ivfPqDelete(appended, dead, "id")
    assert(rows(pruned) == rows(full).filterNot(_._1 % 10 == 0))
    val hitsAfter = Similarity.ivfPqTopK(model, q, pruned, all, "id",
        "vec", k = 20, nprobe = 5)
      .select("c_id").collect().map(_.getLong(0)).toSet
    assert(hitsAfter.forall(_ % 10 != 0), s"deleted id returned: $hitsAfter")
  }

  test("semanticDedup: every embedding-duplicate component keeps its " +
    "min-id representative; bucketed mode agrees with exact on " +
    "well-separated data") {
    val rnd = new scala.util.Random(23)
    // well-separated random vectors (non-copy cosines ~ 0) + exact
    // copies of ids 0-19 at +1000 and +2000 (3-member components)
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val all = (base ++
      base.take(20).map { case (id, v) => (id + 1000L, v) } ++
      base.take(20).map { case (id, v) => (id + 2000L, v) })
      .toDF("id", "vec")
    val exact = Similarity.semanticDedup(all, "id", "vec",
        threshold = 0.8, dim = 32, bits = 0)
      .select("id").collect().map(_.getLong(0)).toSet
    // each copy component collapses to its min id; singles survive
    assert(exact == (0 until 100).map(_.toLong).toSet)
    val bucketed = Similarity.semanticDedup(all, "id", "vec",
        threshold = 0.8, dim = 32, bits = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    // identical vectors always share the exact bucket, so the bucketed
    // path finds every copy pair here
    assert(bucketed == exact)
  }

  test("semanticDedupIvf (the paper's k-means-bucketed variant) " +
    "agrees with exact semanticDedup on well-separated data, and " +
    "shares the closure/survivor tail") {
    val rnd = new scala.util.Random(31)
    // exact copies of ids 0-19 at +1000/+2000; everything else is
    // well-separated gaussian noise (non-copy cosines ~ 0)
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val all = (base ++
      base.take(20).map { case (id, v) => (id + 1000L, v) } ++
      base.take(20).map { case (id, v) => (id + 2000L, v) })
      .toDF("id", "vec")
    val exact = Similarity.semanticDedup(all, "id", "vec",
        threshold = 0.8, dim = 32, bits = 0)
      .select("id").collect().map(_.getLong(0)).toSet
    val model = Similarity.fitIvf(all, "vec", nlist = 8)
    // identical vectors quantize to the identical nearest cell, so
    // nprobe=1 (the paper's within-cluster comparison) finds every
    // copy pair on this fixture
    val bucketed = Similarity.semanticDedupIvf(all, "id", "vec",
        threshold = 0.8, model, nprobe = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(bucketed == exact)
    assert(bucketed == (0 until 100).map(_.toLong).toSet)
    // multiprobe may only ADD candidate pairs — on separated data the
    // verified pair set (and thus the survivor set) is unchanged
    val probed = Similarity.semanticDedupIvf(all, "id", "vec",
        threshold = 0.8, model, nprobe = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(probed == exact)
  }

  test("sq8 scalar quantization: codes in [0,255], reconstruction " +
    "error <= scale/2 per component, top-k matches brute force on " +
    "separated data") {
    val rnd = new scala.util.Random(29)
    val data = (0 until 300).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val codes = Similarity.sq8Encode(data, "id", "vec")
    val rows = codes.select("c_id", "lo", "scale", "codes").collect()
    rows.foreach { r =>
      val cs = r.getSeq[Int](3)
      assert(cs.forall(c => c >= 0 && c <= 255), s"code out of range")
    }
    // reconstruction error bound: |x - (lo + code*scale)| <= scale/2
    val err = codes
      .join(data, codes("c_id") === data("id"))
      .select(col("scale"),
        zip_with(
          Similarity.sq8Reconstruct(col("lo"), col("scale"), col("codes")),
          org.apache.spark.sql.functions.transform(col("vec"),
            x => x.cast("double")),
          (a, b) => abs(a - b)).as("errs"))
      .select(max(expr("array_max(errs) - scale / 2 - 1e-12")).as("worst"))
      .head.getDouble(0)
    assert(err <= 0.0, s"reconstruction error above scale/2 by $err")
    // 8-bit quantization barely moves cosine ranks on separated data
    val q = data.filter($"id" < 5)
    val exact = Similarity.bruteForceTopK(q, data, "id", "vec", 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(q, codes, "id", "vec", 10)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect sq8).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall too low: $recall")
  }

  test("bq binary quantization: 63-bit word packing round-trips the " +
    "sign pattern; exhaustive mode ≡ brute force; approximate recall " +
    "holds on separated data") {
    // hand-checkable packing: 4 dims, mean 0 → bits (+,-,+,-) = 1010
    // at word positions 62..59 under the acc·2+bit fold over 63 slots
    val tiny = Seq((0L, Array(1.0f, -1.0f, 2.0f, -2.0f)))
      .toDF("id", "vec")
    val word = Similarity.bqEncode(tiny, "id", "vec")
      .select("words").head.getSeq[Long](0)
    assert(word.length == 1)
    // bits j=0..62 fold MSB-first: bit for dim d sits at 2^(62-d)
    assert(word.head == (1L << 62) + (1L << 60))
    val rnd = new scala.util.Random(43)
    val data = (0 until 300).map(i =>
      (i.toLong, Array.fill(96)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    // 96 dims → 2 words per vector
    assert(Similarity.bqEncode(data, "id", "vec")
      .select("words").head.getSeq[Long](0).length == 2)
    val q = data.filter($"id" < 5)
    val exact = Similarity.bruteForceTopK(q, data, "id", "vec", 10)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // exhaustive: rerankFactor = 0 reranks everything → identical
    val exh = Similarity.bqTopK(q, data, "id", "vec", 10,
        rerankFactor = 0)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exh == exact)
    // approximate: hamming prune at 8× then exact rerank
    val approx = Similarity.bqTopK(q, data, "id", "vec", 10,
        rerankFactor = 8)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (a, _, c) => (a, c) }
    val recall = (exactPairs intersect approx).size.toDouble /
      exactPairs.size
    assert(recall >= 0.5, s"bq recall too low: $recall")
  }

  test("centroidStaleness: in-distribution appends stay near ratio 1 " +
    "and don't trip the refit flag; drifted appends trip it") {
    val rnd = new scala.util.Random(17)
    def draw(n: Int, base: Int, shift: Double) =
      (0 until n).map { i =>
        val c = Seq((0.0, 0.0), (3.0, 3.0), (-3.0, 2.0))(i % 3)
        ((base + i).toLong, Array(
          (c._1 + rnd.nextGaussian() * 0.4 + shift).toFloat,
          (c._2 + rnd.nextGaussian() * 0.4 + shift).toFloat,
          (rnd.nextGaussian() * 0.4).toFloat,
          (rnd.nextGaussian() * 0.4).toFloat))
      }
    val base = draw(300, 0, 0.0).toDF("id", "vec")
    val model = Similarity.fitIvfPq(base, "vec", nlist = 6, m = 2, k = 8)
    assert(model.ivf.fitDistQ.nonEmpty)
    val (q, fitQ) = model.ivf.fitDistQ.get
    assert(q == 0.9 && fitQ > 0)

    val inDist = draw(100, 1000, 0.0).toDF("id", "vec")
    val rIn = Similarity.centroidStaleness(model.ivf, inDist, "vec")
    assert(!rIn.refitRecommended,
      s"in-distribution append tripped the flag: $rIn")
    assert(rIn.ratio > 0.6 && rIn.ratio < 1.25, s"ratio off: $rIn")

    val drifted = draw(100, 2000, 8.0).toDF("id", "vec")
    val rDrift = Similarity.centroidStaleness(model.ivf, drifted, "vec")
    assert(rDrift.refitRecommended, s"drifted append missed: $rDrift")
    assert(rDrift.ratio > 2.0, s"drift ratio too small: $rDrift")

    // the append wrapper returns the same index ivfPqAppend builds
    // plus the report, and never blocks the append
    val index = Similarity.ivfPqEncode(model, base, "id", "vec")
    val (appended, rep) = Similarity.ivfPqAppendWithStaleness(
      model, index, drifted, "id", "vec")
    assert(rep.refitRecommended)
    assert(appended.count() == 400)
    // an EMPTY batch (ingestion no-op tick) must report, not throw
    val rEmpty = Similarity.centroidStaleness(model.ivf,
      inDist.filter($"id" < 0), "vec")
    assert(!rEmpty.refitRecommended && rEmpty.deltaQ.isNaN)
    // out-of-range staleQuantile fails at FIT time, not serve time
    intercept[IllegalArgumentException] {
      Similarity.fitIvfPq(base, "vec", nlist = 4, m = 2, k = 4,
        staleQuantile = 1.5)
    }
  }

  test("fit-distance baseline persists through save/load; pre-" +
    "staleness models load with none and centroidStaleness demands " +
    "a refit") {
    val rnd = new scala.util.Random(23)
    val data = (0 until 150).map(i => (i.toLong,
      Array.fill(4)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val model = Similarity.fitIvfPq(data, "vec", nlist = 5, m = 2, k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-stale")
      .toString
    model.save(spark, s"$dir/m")
    val loaded = Similarity.loadIvfPq(spark, s"$dir/m")
    assert(loaded.ivf.fitDistQ == model.ivf.fitDistQ)
    // a model persisted WITHOUT the stat row (older layout)
    Similarity.IvfModel(model.ivf.centroids).save(spark, s"$dir/old")
    val old = Similarity.loadIvf(spark, s"$dir/old")
    assert(old.fitDistQ.isEmpty)
    intercept[IllegalArgumentException] {
      Similarity.centroidStaleness(old, data, "vec")
    }
  }
}
