package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.operators.{Dedup, Graph, Hnsw, Layout, Retrieval, Similarity}
import graft.queries.Queries

/** Runs registered query entries in a fixed order; each entry is one
  * operation whose consuming action writes its full output to parquet
  * (every column computed, as a pipeline sink would). The written rows
  * are checked after the JVM exits: against the entry's DuckDB oracle
  * SQL, and against the first pass's rows. */
class Entries(spark: SparkSession, data: String, work: String,
              entries: Seq[String]) extends Workload {
  private val fns = entries.map(n =>
    n -> Queries.all.getOrElse(n, Queries.benchOnly(n)))

  // inputs are generated before the JVM starts; set-up here only reads
  // the input footers so the first timed entry does not pay for them
  def setupReps: Int = 3
  def setup(rep: Int): Unit =
    Seq("documents", "events", "orders", "customer").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").schema)

  def pass(p: Int, rec: Recorder): Unit = fns.foreach { case (name, fn) =>
    val out = s"$work/out/p$p/$name"
    rec.op("entry", name, Some(out))(fn(spark, data)) { df =>
      (if (rec.corrupt) df.limit(0) else df).write.parquet(out)
    }(_ => None)
    Hygiene.afterEntry(spark, Queries.streamingQueries(name))
  }

  override def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
}

object Pipeline {
  /** One entry per link of the briefly asset chain: clean, canonical
    * upsert, dedup, embed, envelope ingest, TTS, and the incremental
    * ingest as Structured Streaming micro-batches (foreachBatch MERGE).
    * A pass is about ten seconds, so a run holds two warm passes within
    * the benchmark's time budget. */
  val entries: Seq[String] = Seq(
    "q32_clean_text", "q07_upsert_merge", "q25_minhash_lsh",
    "q28_hash_embed", "q158_warc_records", "q140_wav_transcode",
    "q93_stream_lifecycle")
}

/** The related-articles / vector-store side: indexes built in set-up,
  * then one closed-loop client issuing a seeded sequence of single-query
  * lookups, persisted index upserts and a link-graph refresh.
  *
  * A pass is one 60 s embedding-sensor tick of the reference's traffic
  * (BASELINE.md, sensor cadence and per-tick batch rows): the related
  * sensor serves 20 lookups per 300 s, so 4 per tick, and the embedding
  * sensor upserts at most 10 articles per tick. The reference serves its
  * lookups from one HNSW collection; the four lookups of a pass go one
  * to each of the engine's retrieval paths. Every pass does the same
  * work with seeded arguments. */
class Serve(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  import spark.implicits._
  private val K = 6
  private val Batch = 10            // articles per upsert (one tick)
  private val PoolBatches = 40      // serve_docs/serve_vecs hold 400 rows

  private val docs = spark.read.parquet(s"$data/documents.parquet")
    .select($"doc_id", $"text").cache()
  private val emb = spark.read.parquet(s"$data/embeddings.parquet")
    .select($"vec_id", $"embedding").cache()
  private val newDocs = spark.read.parquet(s"$data/serve_docs.parquet")
  private val newVecs = spark.read.parquet(s"$data/serve_vecs.parquet")
    .select($"vec_id", $"embedding")
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  // index state: each write persists a new version directory
  private var root = ""
  private var version = 0
  private var bm25: (DataFrame, DataFrame) = _
  private var bm25Dir = ""
  private var hnsw: DataFrame = _
  private var hnswResident: DataFrame = _
  private var ivfModel: Similarity.IvfPqModel = _
  private var ivf: DataFrame = _
  private var dedupIdx: DataFrame = _
  private var dedupDir = ""
  private var dedupTruth: Set[(Long, Long)] = Set.empty
  private var probePool: IndexedSeq[Long] = IndexedSeq.empty
  private var vectors: Map[Long, Array[Double]] = Map.empty
  private var edges: DataFrame = _
  private var nodes: DataFrame = _
  private var prior: DataFrame = _
  // the appended batch live in every index: set-up builds them with
  // batch 0 and each pass's upsert replaces the live batch with the
  // next one, so index sizes stay level
  private var live = 0
  // HNSW answers with the batch live when they were served
  private val hnswAnswers =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Set[Long])]

  private def nextDir(name: String): String = {
    version += 1; s"$root/$name/v$version"
  }
  private def persist(df: DataFrame, dir: String): DataFrame = {
    df.write.parquet(dir); spark.read.parquet(dir)
  }
  private def persistBm25(post: DataFrame, stats: DataFrame): Unit = {
    bm25Dir = nextDir("bm25_postings")
    bm25 = (persist(post, bm25Dir), persist(stats, nextDir("bm25_stats")))
  }

  // one index build per run: it is the costliest set-up step
  def setupReps: Int = 1
  def setup(rep: Int): Unit = {
    root = s"$work/serve/setup$rep"
    var t = System.nanoTime()
    def phase(name: String): Unit = {
      System.err.println(f"[perfbench] set-up $name: ${(System.nanoTime() - t) / 1e9}%.2f s")
      t = System.nanoTime()
    }
    // the indexes hold the base corpus plus appended batch 0
    val (post, stats) = Retrieval.buildBm25Index(corpusDocs, "doc_id",
      "text")
    persistBm25(Layout.byKey(post, "term", 4, "doc_id"), stats)
    phase("bm25")
    hnsw = persist(Hnsw.buildShards(corpusVecs(live), "vec_id", "embedding",
      shards = 8), nextDir("hnsw"))
    hnswResident = Hnsw.prepare(hnsw).cache()
    hnswResident.count()
    phase("hnsw")
    ivfModel = Similarity.fitIvfPq(emb, "embedding", nlist = 16, m = 8,
      k = 16)
    ivf = persist(Similarity.ivfPqEncode(ivfModel, corpusVecs(live),
      "vec_id", "embedding"), nextDir("ivfpq"))
    phase("ivfpq")
    // the q190 persisted band index over 4/5 of the corpus; probes are
    // re-ingested copies of any document (ids + 10,000,000)
    val sig = (d: DataFrame) => Dedup.bandBuckets(Dedup.minhashSignatures(
      d, "text", "doc_id", hash = Dedup.Md5), hash = Dedup.Md5)
    dedupDir = nextDir("dedup")
    dedupIdx = persist(Layout.byKey(sig(docs.filter($"doc_id" % 5 =!= 0)),
      "band_hash", 4), dedupDir)
    // probes draw from a seeded pool of 200 documents; the reference
    // answer for the whole pool comes from the unpruned path
    phase("dedup index")
    probePool = new scala.util.Random(seed).shuffle(
      (0L until 5000L).toIndexedSeq).take(200)
    dedupTruth = Dedup.incrementalCandidates(
        Dedup.minhashSignatures(docs.filter($"doc_id" % 5 =!= 0), "text",
          "doc_id", hash = Dedup.Md5),
        Dedup.minhashSignatures(probeDocs(docs.filter(
          $"doc_id".isin(probePool: _*))), "text", "doc_id",
          hash = Dedup.Md5), hash = Dedup.Md5)
      .as[(Long, Long)].collect().toSet
    phase("dedup truth")
    vectors = emb.unionByName(newVecs).as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    // related-article links: each of the first 100 articles links to
    // its nearest base-corpus neighbours (of 6), as the reference's
    // related_ids do
    nodes = emb.select($"vec_id".as("doc_id"))
    edges = persist(Hnsw.topKResident(hnswResident,
        emb.filter($"vec_id" < 100), "vec_id", "embedding", K)
      .filter($"c_id" < 1000000L)
      .select($"q_id".as("src"), $"c_id".as("dst")), nextDir("edges"))
    prior = persist(Graph.pageRank(edges, nodes, "src", "dst",
      iterations = 3), nextDir("prior"))
    phase("graph")
    Hygiene.afterEntry(spark, streaming = false)
  }

  private def probeDocs(d: DataFrame): DataFrame =
    d.select(($"doc_id" + 10000000L).as("doc_id"), $"text")

  private def idsOf(b: Int): Seq[Long] =
    (0 until Batch).map(i => 1000000L + b * Batch + i)
  private def corpusDocs: DataFrame = docs.unionByName(
    newDocs.filter($"doc_id".isin(idsOf(live): _*)))
  private def corpusVecs(b: Int): DataFrame = emb.unionByName(
    newVecs.filter($"vec_id".isin(idsOf(b): _*)))
  private def batchOf(df: DataFrame, col0: String, b: Int): DataFrame =
    df.filter(col(col0) >= 1000000L + b * Batch &&
      col(col0) < 1000000L + (b + 1) * Batch)

  /** A pass: the tick's four lookups, one per retrieval path, its
    * upsert between them, then a link-graph refresh. */
  def pass(p: Int, rec: Recorder): Unit = {
    val rng = new scala.util.Random(seed * 7919 + p)
    hnswLookup(rec, rng.nextInt(2000).toLong)
    bm25Lookup(rec, Seq.fill(2 + rng.nextInt(2))(
      vocab(rng.nextInt(vocab.size))).distinct)
    write(rec)
    ivfLookup(rec, rng.nextInt(2000).toLong)
    dedupLookup(rec, Seq.fill(10)(
      probePool(rng.nextInt(probePool.size))).distinct)
    graphRefresh(rec, rng)
  }

  private def maybeDrop(rows: Array[Row], rec: Recorder): Array[Row] =
    if (rec.corrupt) rows.drop(1) else rows

  private def hnswLookup(rec: Recorder, q: Long): Unit = {
    val res = rec.op("lookup", "hnsw_topk")(
      Hnsw.topKResident(hnswResident, emb.filter($"vec_id" === q),
        "vec_id", "embedding", K, ef = 128))(df =>
      maybeDrop(df.collect(), rec))(rows =>
      if (rows.length == K) None else Some(s"${rows.length} rows"))
    res.foreach(rows => hnswAnswers +=
      ((q, live, rows.map(_.getAs[Long]("c_id")).toSet)))
  }

  /** IVF-PQ is approximate by design (nprobe 4 of 16), but its re-rank
    * is exact: every returned similarity must be the true cosine, in
    * descending order, over live vectors. */
  private def ivfLookup(rec: Recorder, q: Long): Unit = {
    val liveVecs = idsOf(live).toSet
    rec.op("lookup", "ivfpq_topk")(
      Similarity.ivfPqTopK(ivfModel, emb.filter($"vec_id" === q), ivf,
        corpusVecs(live), "vec_id", "embedding", K, nprobe = 4,
        rerankFactor = 4))(df => maybeDrop(df.collect(), rec)) { rows =>
      val sims = rows.sortBy(_.getAs[Number]("rank").intValue)
        .map(r => (r.getAs[Long]("c_id"), r.getAs[Double]("sim")))
      val bad = sims.filterNot { case (c, s) =>
        (c < 1000000L || liveVecs(c)) && math.abs(s - cosine(q, c)) < 1e-9 }
      if (rows.length != K) Some(s"${rows.length} rows")
      else if (bad.nonEmpty) Some(s"inexact similarities $bad")
      else if (sims.map(_._2).sliding(2).exists(w => w.size == 2 && w(0) < w(1)))
        Some("similarities out of order")
      else None
    }
  }

  private def cosine(a: Long, b: Long): Double = {
    val (x, y) = (vectors(a), vectors(b))
    var (d, nx, ny) = (0.0, 0.0, 0.0)
    for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
    d / math.sqrt(nx * ny)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** After the action, outside the timed region: the ids of the RDDs
    * that scanned the index stored in `dir` (the traced run attributes
    * task input bytes through them), and the size of that index. */
  private def noteIndexScan(rec: Recorder, df: DataFrame, index: DataFrame,
                            dir: String): Unit = {
    val want = new java.io.File(dir).getAbsolutePath
    val rdds = Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          p => new java.io.File(p.toUri.getPath).getAbsolutePath == want) =>
        s.inputRDD.id
    }
    rec.noteScan(Json.obj(
      "rdds" -> Json.arr(rdds.map(i => Json.num(i.toLong))),
      "index_bytes" -> Json.num(dirBytes(index))))
  }

  private def bm25Lookup(rec: Recorder, terms: Seq[String]): Unit = {
    val (post, dir) = (bm25._1, bm25Dir)
    val res = rec.op("lookup", "bm25_serve")(
      Retrieval.bm25FromIndex(post, bm25._2,
        Seq((1L, terms)).toDF("query_id", "terms"), "query_id", "terms",
        K))(df => (df, maybeDrop(df.collect(), rec))) { case (_, rows) =>
      // from scratch over the current corpus, the live upsert included
      val want = Retrieval.bm25TopK(corpusDocs, "doc_id", "text", terms, K)
        .collect().map(r => (r.getAs[Number]("rank").longValue,
          r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).sorted.toSeq
      val got = rows.map(r => (r.getAs[Number]("rank").longValue,
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).sorted.toSeq
      if (got == want) None else Some(s"bm25 $terms: $got != $want")
    }
    res.foreach { case (df, _) => noteIndexScan(rec, df, post, dir) }
  }

  private def dedupLookup(rec: Recorder, picks: Seq[Long]): Unit = {
    val probe = probeDocs(docs.filter($"doc_id".isin(picks: _*)))
    val ids = picks.map(_ + 10000000L).toSet
    val res = rec.op("lookup", "dedup_probe")(
      Dedup.incrementalCandidatesPruned(dedupIdx, Dedup.bandBuckets(
        Dedup.minhashSignatures(probe, "text", "doc_id", hash = Dedup.Md5),
        hash = Dedup.Md5)))(df => (df, maybeDrop(df.collect(), rec))) {
      case (_, rows) =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        val probeIds = (id: Long) => id < 10000000L || ids(id)
        val want = dedupTruth.filter { case (a, b) =>
          (ids(a) || ids(b)) && probeIds(a) && probeIds(b) }
        if (got == want) None else Some(s"dedup ${got.size} != ${want.size}")
    }
    res.foreach { case (df, _) => noteIndexScan(rec, df, dedupIdx, dedupDir) }
  }

  /** Upsert one batch of articles into the three indexes: delete batch
    * `drop`, append batch `add`, persist each index as a new version.
    * HNSW re-makes its resident copy. */
  private def upsert(drop: Int, add: Int): Unit = {
    val docsIn = batchOf(newDocs, "doc_id", add)
    val vecsIn = batchOf(newVecs, "vec_id", add)
    val gone = batchOf(newVecs, "vec_id", drop).select("vec_id")
    val (po, st) = Retrieval.deleteFromBm25Index(bm25._1, bm25._2,
      batchOf(newDocs, "doc_id", drop).select("doc_id"), "doc_id")
    val (po2, st2) = Retrieval.appendToBm25Index(po, st, docsIn, "doc_id",
      "text")
    persistBm25(po2, st2)
    hnsw = persist(Hnsw.appendShards(
      Hnsw.deleteFromShards(hnsw, gone, "vec_id"), vecsIn, "vec_id", "embedding",
      shards = 8), nextDir("hnsw"))
    hnswResident.unpersist()
    hnswResident = Hnsw.prepare(hnsw).cache()
    hnswResident.count()
    ivf = persist(Similarity.ivfPqAppend(ivfModel,
      Similarity.ivfPqDelete(ivf, gone, "vec_id"), vecsIn, "vec_id",
      "embedding"), nextDir("ivfpq"))
    live = add
  }

  /** The tick's upsert, timed whole as its action: the operator calls
    * and the persists that make them durable are one step for the
    * client. */
  private def write(rec: Recorder): Unit =
    rec.op("write", "index_upsert")(spark.emptyDataFrame) { _ =>
      upsert(live, (live + 1) % PoolBatches)
    }(_ => None)

  private def graphRefresh(rec: Recorder, rng: scala.util.Random): Unit = {
    val delta = Seq.fill(30)((rng.nextInt(2000).toLong,
      rng.nextInt(2000).toLong)).toDF("src", "dst")
    rec.op("refresh", "graph_refresh")(
      Graph.pageRankResume(edges.unionByName(delta), nodes, "src", "dst",
        prior, iterations = 2))(df =>
      maybeDrop(df.select("rank").collect(), rec)) { rows =>
      val total = rows.map(_.getDouble(0)).sum
      if (rows.length == 2000 && math.abs(total - 1.0) < 1e-6) None
      else Some(s"${rows.length} ranks summing to $total")
    }
    Hygiene.afterEntry(spark, streaming = false)
  }

  private def dirBytes(df: DataFrame): Long = df.inputFiles.map(f =>
    new java.io.File(new java.net.URI(f)).length).sum

  /** HNSW recall@K against exact brute force on the corpus each answer
    * was served from: the run's served answers plus 50 seeded queries
    * on the final index, made after the run and untimed (a pass serves
    * one HNSW lookup, too few for the pin alone). run.py holds it to a
    * pin. */
  override def recall: Map[String, Double] = {
    val qs = new scala.util.Random(seed + 1).shuffle(
      (0L until 2000L).toIndexedSeq).take(50)
    val extra = Hnsw.topKResident(hnswResident, emb.filter(
        $"vec_id".isin(qs: _*)), "vec_id", "embedding", K, ef = 128)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.map { case (q, cs) => (q, live, cs.map(_._2).toSet) }
    val answers = hnswAnswers.toSeq ++ extra
    val hits = answers.groupBy(_._2).toSeq.map { case (b, as) =>
      val truth = Similarity.bruteForceTopK(
          emb.filter($"vec_id".isin(as.map(_._1).distinct: _*)),
          corpusVecs(b), "vec_id", "embedding", K)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
      as.map { case (q, _, got) => (truth(q) intersect got).size }.sum
    }.sum
    Map("hnsw" -> hits.toDouble / (answers.size * K).max(1))
  }
}
