package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** True HNSW (Malkov & Yashunin, "Efficient and robust approximate
  * nearest neighbor search using Hierarchical Navigable Small World
  * graphs", IEEE TPAMI 2018) — closing the last ANN-family gap: the
  * reference's actual index is Qdrant HNSW at `hnsw_ef=128`
  * (qdrant_io_manager.py:33), which previous rounds substituted with
  * recall-measured IVF/LSH/PQ. This is the real graph structure:
  * exponentially-decaying layer assignment, greedy descent through
  * upper layers, beam search (`ef`) at layer 0, bidirectional M-bounded
  * links with closest-first pruning.
  *
  * Distributed shape (how HNSW actually scales out — graphs don't
  * shard by key, so engines shard the CORPUS and scatter-gather):
  *  - [[buildShards]] hash-partitions the corpus into `shards` and
  *    builds one independent in-memory graph per shard inside
  *    `mapPartitions` (the genuine per-partition-imperative case);
  *    the result is a RELATION — one row per node carrying its vector
  *    and per-layer adjacency — so the index persists as parquet,
  *    co-located by shard.
  *  - [[topK]] broadcasts the bounded query batch, reconstructs each
  *    shard's adjacency once per (shard, query-batch) task, beam-
  *    searches every query in that shard, and merges shard-local
  *    top-k with one candidate-sized window — queries × shards rows,
  *    never corpus-sized.
  * Per-shard graph loading is O(shard rows) per batch; at scale that
  * amortizes over large query batches exactly like the serve processes
  * of sharded HNSW engines, which keep shard graphs resident. Build
  * and search are DETERMINISTIC (level from xxhash-style id mixing,
  * insertion in ascending id order, distance ties broken by id), so
  * recall is reproducible round to round; like the other approximate
  * ANN production modes the contract is measured recall
  * (RecallCurveSpec) + determinism specs, not a value oracle.
  */
object Hnsw {

  /** `m` = max links per node per upper layer (layer 0 allows 2m);
    * `efConstruction` = build-time beam width; `seed` folds into the
    * deterministic level assignment.
    */
  final case class Params(m: Int = 16, efConstruction: Int = 100,
                          seed: Long = 42L) {
    require(m >= 2 && efConstruction >= 1)
    val mL: Double = 1.0 / math.log(m.toDouble)
  }

  /** Deterministic level: floor(−ln(U)·mL) with U derived from a
    * 64-bit mix of (seed, id) — the paper's exponential decay without
    * RNG state (same level for the same id on every build).
    */
  private[graft] def levelOf(id: Long, p: Params): Int = {
    var x = id ^ (p.seed * 0x9E3779B97F4A7C15L)
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    // 53 high bits + 1 → uniform in (0,1]: never 0 (ln would be -inf)
    // and never > 1 (a 54-bit numerator would put half the mass above
    // 1, truncating -ln(u) to 0 and halving the hierarchy density)
    val u = ((x >>> 11).toDouble + 1.0) / 9007199254740993.0 // 2^53+1
    math.min(32, (-math.log(u) * p.mL).toInt)
  }

  /** In-memory graph over one shard. Distance = 1 − cosine; ties break
    * by ascending id everywhere so builds and searches replay exactly.
    */
  final class Graph(p: Params) {
    private[operators] val vecs = mutable.LongMap.empty[Array[Double]]
    // adjacency(level) : id → neighbor ids
    private[operators] val adj =
      mutable.ArrayBuffer.empty[mutable.LongMap[mutable.ArrayBuffer[Long]]]
    private[operators] var entry: Long = -1L
    private[operators] var topLevel: Int = -1

    private def dist(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 2.0
      else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }

    private def neighbors(level: Int, id: Long): mutable.ArrayBuffer[Long] =
      adj(level).getOrElseUpdate(id, mutable.ArrayBuffer.empty[Long])

    /** Beam search one layer: the paper's SEARCH-LAYER with an ordered
      * candidate set; returns (dist, id) ascending, ≤ ef entries.
      */
    private def searchLayer(q: Array[Double], entryPoints: Seq[Long],
                            ef: Int, level: Int): mutable.ArrayBuffer[(Double, Long)] = {
      implicit val ord: Ordering[(Double, Long)] = Ordering.Tuple2
      val visited = mutable.LongMap.empty[Unit]
      val cand = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse) // min-heap
      val best = mutable.PriorityQueue.empty[(Double, Long)]             // max-heap
      entryPoints.foreach { ep =>
        if (!visited.contains(ep)) {
          visited(ep) = (); val d = dist(q, vecs(ep))
          cand.enqueue((d, ep)); best.enqueue((d, ep))
          while (best.size > ef) best.dequeue()
        }
      }
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (best.nonEmpty && dc > best.head._1 && best.size >= ef) {
          cand.clear() // all remaining candidates are farther still
        } else {
          neighbors(level, c).foreach { nb =>
            if (!visited.contains(nb)) {
              visited(nb) = ()
              val d = dist(q, vecs(nb))
              val better = best.size < ef || d < best.head._1 ||
                (d == best.head._1 && nb < best.head._2)
              if (better) {
                cand.enqueue((d, nb)); best.enqueue((d, nb))
                while (best.size > ef) best.dequeue()
              }
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Long)]
      while (best.nonEmpty) out.prepend(best.dequeue())
      out
    }

    /** Insert; ids must arrive in ascending order for determinism
      * (callers sort — see [[buildShards]]).
      */
    def insert(id: Long, vec: Array[Double]): Unit = {
      val l = levelOf(id, p)
      vecs(id) = vec
      while (adj.size <= l) adj += mutable.LongMap
        .empty[mutable.ArrayBuffer[Long]]
      if (entry < 0) { entry = id; topLevel = l; return }
      var eps: Seq[Long] = Seq(entry)
      // greedy descent through layers above the node's level
      var level = topLevel
      while (level > l) {
        eps = Seq(searchLayer(vec, eps, 1, level).head._2)
        level -= 1
      }
      // connect on layers min(l, topLevel)..0
      level = math.min(l, topLevel)
      while (level >= 0) {
        val cands = searchLayer(vec, eps, p.efConstruction, level)
        val mMax = if (level == 0) 2 * p.m else p.m
        val chosen = cands.take(p.m).map(_._2)
        chosen.foreach { nb =>
          neighbors(level, id) += nb
          val back = neighbors(level, nb)
          back += id
          if (back.size > mMax) {
            // prune to the mMax closest (ties by id) — the paper's
            // simple neighbor selection
            val kept = back.map(x => (dist(vecs(nb), vecs(x)), x))
              .sorted.take(mMax).map(_._2)
            back.clear(); back ++= kept
          }
        }
        eps = cands.map(_._2).toSeq
        level -= 1
      }
      if (l > topLevel) { topLevel = l; entry = id }
    }

    /** Top-k ids with cosine SIMILARITY (descending), self excluded by
      * the caller if needed.
      */
    def search(q: Array[Double], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var eps: Seq[Long] = Seq(entry)
      var level = topLevel
      while (level > 0) {
        eps = Seq(searchLayer(q, eps, 1, level).head._2)
        level -= 1
      }
      searchLayer(q, eps, math.max(ef, k), 0)
        .take(k).map { case (d, id) => (id, 1.0 - d) }.toSeq
    }

    /** Exhaustive scan: EVERY vector scored with the same distance
      * kernel and tie order ((dist, id) ascending) the beam search
      * uses — provably ≡ brute force over the shard, independent of
      * graph connectivity (beam search at any ef only reaches nodes
      * connected to the entry; shrink-pruned reverse links make
      * "huge ef" exhaustive-ish, not provable). The serve core's
      * `ef <= 0` oracle mode — HNSW's twin of IVF-PQ's
      * `rerankFactor <= 0` + `nprobe = nlist` (q77). Zero-norm
      * vectors score the kernel's dist-2.0 sentinel (sim −1, ranked
      * last) where Vectors.cosine yields NULL and SQL engines NaN —
      * the F13 ingestion guard (`Vectors.isValid`) excludes them
      * upstream, which is what keeps ≡-brute-force comparisons
      * three-way consistent.
      */
    def searchAll(q: Array[Double]): Seq[(Long, Double)] =
      vecs.toSeq.map { case (id, v) => (dist(q, v), id) }
        .sorted
        .map { case (d, id) => (id, 1.0 - d) }
  }

  private val indexSchema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("c_id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("links", ArrayType(ArrayType(LongType,
      containsNull = false), containsNull = false), nullable = false),
    StructField("deleted", BooleanType, nullable = false)))

  /** Shared build core over (c_id: long, vec: array<double>,
    * shard: int) rows: one shuffle to co-locate shards, then a
    * partition-local graph build per shard. Because levels are
    * id-derived and insertion is ascending-id, the SAME membership
    * always yields the SAME graph — the property the lifecycle leans
    * on: rebuilding one shard from its membership is bit-identical to
    * that shard inside a full [[buildShards]].
    */
  private def buildFrom(rows: DataFrame, shards: Int, p: Params): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(indexSchema)
    rows.select(col("c_id"), col("vec"), col("shard"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("c_id"))
      .mapPartitions { it =>
        val buf = it.toArray
        buf.groupBy(_.getInt(2)).iterator.flatMap { case (shard, rs) =>
          val g = new Graph(p)
          rs.foreach { r =>
            g.insert(r.getLong(0), r.getSeq[Double](1).toArray)
          }
          rs.iterator.map { r =>
            val id = r.getLong(0)
            // links end at the NODE's level (deterministic from the
            // id), so links.size−1 recovers it at reconstruction and
            // the serve-side entry pick lands on a true top-level node
            val links = (0 to math.min(levelOf(id, p), g.topLevel))
              .map { lv =>
                g.adj(lv).get(id).map(_.toSeq).getOrElse(Seq.empty[Long])
              }
            Row(shard, id, r.getSeq[Double](1), links, false)
          }
        }
      }(enc)
  }

  // hash the CASTED long: Spark's xxhash64 hashes int and long
  // representations of the same value differently, so an int-typed
  // delta against a long-typed build would shard-split ids
  private def shardOf(idCol: String, shards: Int) =
    pmod(xxhash64(col(idCol).cast("long")), lit(shards))
      .cast("int").as("shard")

  /** Build per-shard HNSW graphs: corpus → `shards` hash partitions →
    * one graph per partition → (shard, c_id, vec, links, deleted)
    * rows where `links(level)` is the node's adjacency at that level.
    * ONE corpus shuffle (the repartition); the build itself is
    * partition-local. Rows within a shard insert in ascending id so
    * the graph replays identically on every build.
    */
  def buildShards(corpus: DataFrame, idCol: String, vecCol: String,
                  shards: Int, params: Params = Params()): DataFrame =
    buildFrom(
      corpus.select(
        col(idCol).cast("long").as("c_id"),
        graft.functions.Vectors.toDouble(col(vecCol)).as("vec"),
        shardOf(idCol, shards)),
      shards, params)

  /** EQUALITY-FILTERED ANN, the reference's actual related-articles
    * query shape (same `topic_id` must-match + own-id must_not,
    * get_relevant_articles.py:64-88, served by Qdrant's filtered
    * HNSW): shard BY TAG instead of by id hash, one graph per tag, so
    * a query routes only to its tag's graph and the filter is exact
    * BY CONSTRUCTION — no beam-time predicate, no post-filter recall
    * loss, and at scale a filtered query touches one shard instead of
    * all of them. Distinct tags are collected (bounded: the tag is a
    * grouping key like topic, not an id) and densely numbered into
    * shard ids; returns (index, tagMap (tag, shard)) — persist both.
    * Tags compare as STRINGS (the reference's topic_id is one);
    * null-tagged rows are unindexable by an equality filter and are
    * excluded. The same lifecycle applies ([[appendShards]] semantics
    * hold per tag via rebuild-from-membership determinism).
    */
  def buildTagged(corpus: DataFrame, idCol: String, vecCol: String,
                  tagCol: String, params: Params = Params())
      : (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val tags = corpus.select(col(tagCol).cast("string").as("tag"))
      .filter(col("tag").isNotNull)
      .distinct().as[String].collect().sorted // bounded + deterministic
    val tagMap = tags.zipWithIndex.toSeq.toDF("tag", "shard")
    val rows = corpus.join(broadcast(tagMap),
        corpus(tagCol).cast("string") === tagMap("tag"))
      .select(col(idCol).cast("long").as("c_id"),
        graft.functions.Vectors.toDouble(col(vecCol)).as("vec"),
        col("shard"))
    (buildFrom(rows, math.max(1, tags.length), params), tagMap)
  }

  /** Serve [[buildTagged]]: each query carries its tag, routes ONLY to
    * that tag's graph, and own-id exclusion falls out of the serve
    * path — J5's must/must_not semantics with every returned neighbor
    * tag-correct by construction. Queries whose tag has no graph (or a
    * null tag) return no rows. One-shot: the index is FILTERED to the
    * batch's shards before the co-location exchange, so a persisted
    * `partitionBy("shard")` index is partition-pruned at the source
    * and a one-topic batch reads one shard, not the corpus. `ef <= 0`
    * selects the exhaustive oracle mode (see [[Graph.searchAll]]):
    * provably ≡ per-tag brute-force cosine top-k — q129's correctness
    * contract.
    */
  def topKTagged(index: DataFrame, tagMap: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, tagCol: String, k: Int,
                 ef: Int = 128, params: Params = Params()): DataFrame = {
    val qRows = taggedQueryRows(tagMap, queries, idCol, vecCol, tagCol)
    val touched = qRows.map(_._3).distinct.toSeq
    serve(prepare(index.filter(col("shard").isin(touched: _*))),
      qRows, k, ef, params, routed = true)
  }

  /** Tagged append: rebuild ONLY the tags the delta carries. Existing
    * tags keep their shard numbers; NEW tags extend the map with the
    * next dense ids (in sorted order), so the returned tagMap
    * supersedes the input one — persist both. A full rebuild may
    * number shards differently (it sorts ALL tags), so the identity
    * that holds — and the spec pins — is SERVE equivalence:
    * `topKTagged` over the appended index answers every query exactly
    * like one over `buildTagged` of the union corpus, because each
    * tag's graph is a pure function of its membership regardless of
    * which shard number carries it. Upsert-on-collision and
    * tombstone compaction of touched tags match [[appendShards]];
    * null-tagged delta rows are excluded like at build. Unlike the
    * hash-sharded path — where an id always re-hashes into its own
    * shard — a tagged delta can MOVE an id to a new tag, so the
    * rebuild set widens to every shard currently holding a delta id:
    * the old tag's graph rebuilds without the moved row (one bounded
    * semi-join scan of the index per append), keeping serve ≡ rebuild
    * exact instead of leaving a stale row the old tag could return.
    */
  def appendTagged(index: DataFrame, tagMap: DataFrame, delta: DataFrame,
                   idCol: String, vecCol: String, tagCol: String,
                   params: Params = Params()): (DataFrame, DataFrame) = {
    val spark = index.sparkSession
    import spark.implicits._
    val dTags = delta.select(col(tagCol).cast("string").as("tag"))
      .filter(col("tag").isNotNull)
      .distinct().as[String].collect().sorted // bounded: tag contract
    if (dTags.isEmpty) return (index, tagMap)
    val known = tagMap.select(col("tag"), col("shard"))
      .as[(String, Int)].collect().toMap // bounded: the tag map
    val nextShard = if (known.isEmpty) 0 else known.values.max + 1
    val fresh = dTags.filterNot(known.contains).zipWithIndex
      .map { case (t, i) => (t, nextShard + i) }
    val freshMap = fresh.toMap
    val newMap = tagMap.unionByName(fresh.toSeq.toDF("tag", "shard"))
    val dTagShards = dTags.map(t => known.getOrElse(t, freshMap(t))).toSeq
    val d = delta.join(broadcast(newMap),
        delta(tagCol).cast("string") === newMap("tag"))
      .select(col(idCol).cast("long").as("c_id"),
        graft.functions.Vectors.toDouble(col(vecCol)).as("vec"),
        col("shard"))
    // tag-move upsert: a delta id already LIVE under another tag must
    // leave that tag's graph, so its current shard joins the rebuild
    // set (the anti-join below then drops the old row). Bounded: ≤
    // one shard id per tag.
    val collShards = index
      .filter(!col("deleted") && !col("shard").isin(dTagShards: _*))
      .join(broadcast(d.select("c_id").distinct()), Seq("c_id"),
        "left_semi")
      .select("shard").distinct().as[Int].collect().toSeq
    val touched = dTagShards ++ collShards
    val keep = index.filter(!col("shard").isin(touched: _*))
    val existing = index
      .filter(col("shard").isin(touched: _*) && !col("deleted"))
      .select(col("c_id"), col("vec"), col("shard"))
      .join(d.select("c_id"), Seq("c_id"), "left_anti")
    (keep.unionByName(
      buildFrom(existing.unionByName(d), nextShard + fresh.length,
        params)),
      newMap)
  }

  /** Tagged compaction: rebuild every tombstone-carrying tag graph
    * from its survivors WITHOUT renumbering — the tagMap stays valid
    * as-is (deletion parity with the hash-sharded path, where
    * [[deleteFromShards]] already applies unchanged to a tagged index
    * because tombstoning is id-based and shard-scheme-agnostic). The
    * shard count comes from the tagMap, not a caller guess. A tag
    * whose rows are ALL deleted keeps its (now empty) shard number:
    * its queries return no rows — exactly like after a fresh
    * [[buildTagged]] that never saw the tag — and a later
    * [[appendTagged]] refills the same shard. When every tag retains
    * survivors, the result is row-identical to `buildTagged` of the
    * surviving corpus (same tag set → same dense numbering; then
    * per-shard membership determinism), which the spec pins.
    */
  def compactTagged(index: DataFrame, tagMap: DataFrame,
                    params: Params = Params()): DataFrame = {
    import index.sparkSession.implicits._
    val n = tagMap.agg(max(col("shard"))).as[Option[Int]]
      .head().map(_ + 1).getOrElse(1) // bounded: the tag map
    compactShards(index, math.max(1, n), params)
  }

  private def taggedQueryRows(tagMap: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String,
                              tagCol: String): Array[(Long, Array[Double], Int)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.join(broadcast(tagMap),
        queries(tagCol).cast("string") === tagMap("tag"))
      .select(col(idCol).cast("long"),
        graft.functions.Vectors.toDouble(col(vecCol)), col("shard"))
      .as[(Long, Seq[Double], Int)].collect() // bounded: query contract
      .map { case (id, v, sh) => (id, v.toArray, sh) }
  }

  /** Shared scatter-gather serve core. `qRows` carries a routing shard
    * per query; `routed = false` sends every query to every shard
    * (hash-sharded indexes, where any shard may hold a neighbor),
    * `routed = true` only to its own (tag-sharded, where the shard IS
    * the filter).
    */
  private def serve(prepared: DataFrame,
                    qRows: Array[(Long, Array[Double], Int)], k: Int,
                    ef: Int, p: Params, routed: Boolean): DataFrame = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(qRows)
    val kk = k; val efS = ef; val routedS = routed
    val routedShards = if (routed) qRows.map(_._3).toSet else Set.empty[Int]
    val hits = prepared
      .select(col("shard"), col("c_id"), col("vec"), col("links"),
        col("deleted"))
      .as[(Int, Long, Seq[Double], Seq[Seq[Long]], Boolean)]
      .mapPartitions { it =>
        // routed: drop untouched shards' rows BEFORE materializing —
        // a cached prepared index may hold every shard in this task
        val mine0 = if (routedS) it.filter(r => routedShards(r._1)) else it
        val byShard = mine0.toArray.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, rs) =>
          val mine =
            if (routedS) qB.value.filter(_._3 == shard) else qB.value
          if (mine.isEmpty) Iterator.empty
          else {
            // reconstruct the shard graph: vectors + saved adjacency
            val g = new Graph(p)
            val dead = mutable.LongMap.empty[Unit]
            var maxLevel = -1
            rs.foreach { case (_, id, vec, links, del) =>
              g.vecs(id) = vec.toArray
              if (del) dead(id) = ()
              while (g.adj.size < links.size)
                g.adj += mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
              links.zipWithIndex.foreach { case (ns, lv) =>
                if (ns.nonEmpty || lv == 0)
                  g.adj(lv)(id) = mutable.ArrayBuffer(ns: _*)
              }
              // deterministic entry: the highest-level node, min id
              val top = links.size - 1
              if (top > maxLevel) { maxLevel = top; g.entry = id }
              else if (top == maxLevel && id < g.entry) g.entry = id
            }
            g.topLevel = maxLevel
            // +1 so a query that is itself an indexed row still yields
            // k true neighbors after self-exclusion; +dead.size so
            // tombstones can't crowd live rows out of the pull
            val pull = kk + 1 + dead.size
            mine.iterator.flatMap { case (qid, qv, _) =>
              // ef <= 0: exhaustive oracle mode (see Graph.searchAll)
              val ranked =
                if (efS <= 0) g.searchAll(qv).iterator
                else g.search(qv, pull, math.max(efS, pull)).iterator
              ranked
                .filter { case (cid, _) =>
                  cid != qid && !dead.contains(cid) }
                .take(kk)
                .map { case (cid, sim) => (qid, cid, sim) }
            }
          }
        }
      }
      .toDF("q_id", "c_id", "sim")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("sim"))
  }

  /** Incremental append: rebuild ONLY the shards the delta hashes
    * into; every other shard's rows pass through untouched. Because
    * the build is deterministic in membership,
    * `appendShards(buildShards(A), B)` is row-identical to
    * `buildShards(A ∪ B)` (spec-pinned) — the incremental path can
    * never drift from a rebuild. Touched shards re-insert their
    * surviving rows, so tombstones there are compacted for free.
    * Work is O(delta's shards × shard size), the sharded-HNSW engine
    * append cost; `shards` and `params` MUST match the original build
    * (both determine graph identity).
    */
  def appendShards(index: DataFrame, delta: DataFrame, idCol: String,
                   vecCol: String, shards: Int,
                   params: Params = Params()): DataFrame = {
    import index.sparkSession.implicits._
    val d = delta.select(
      col(idCol).cast("long").as("c_id"),
      graft.functions.Vectors.toDouble(col(vecCol)).as("vec"),
      shardOf(idCol, shards))
    // bounded: ≤ `shards` values
    val touched = d.select("shard").distinct().as[Int].collect().toSeq
    if (touched.isEmpty) return index
    val keep = index.filter(!col("shard").isin(touched: _*))
    // delta wins on id collision (upsert — the reference's in-place
    // $set shape), so re-appending a live or tombstoned id replaces it
    val existing = index
      .filter(col("shard").isin(touched: _*) && !col("deleted"))
      .select(col("c_id"), col("vec"), col("shard"))
      .join(d.select("c_id"), Seq("c_id"), "left_anti")
    keep.unionByName(buildFrom(existing.unionByName(d), shards, params))
  }

  /** Refit-free delete: TOMBSTONE the ids (one broadcast hash join)
    * instead of removing rows — links stay intact, so tombstoned
    * nodes keep ROUTING beam searches (the Qdrant/FAISS deletion
    * model) and recall on survivors doesn't collapse the way it would
    * if graph edges dangled. Serve filters tombstones from results
    * and widens its candidate pull per shard by the tombstone count;
    * [[compactShards]] bounds that widening. Unknown ids no-op.
    * Applies to BOTH shard schemes: tombstoning is id-based, so a
    * [[buildTagged]] index deletes through this same call (compact it
    * with [[compactTagged]], which keeps the tagMap's numbering).
    */
  def deleteFromShards(index: DataFrame, ids: DataFrame,
                       idCol: String): DataFrame = {
    val del = broadcast(
      ids.select(col(idCol).cast("long").as("c_id")).distinct()
        .withColumn("__del", lit(true)))
    index.join(del, Seq("c_id"), "left_outer")
      .withColumn("deleted",
        col("deleted") || coalesce(col("__del"), lit(false)))
      .drop("__del")
      .select(col("shard"), col("c_id"), col("vec"), col("links"),
        col("deleted"))
  }

  /** Rebuild every shard that carries tombstones, dropping them; clean
    * shards pass through untouched. `compactShards(deleteFromShards(
    * buildShards(C), D))` is row-identical to `buildShards(C ∖ D)`
    * (spec-pinned): clean shards never contained D's rows, and dirty
    * shards rebuild deterministically from their survivors.
    */
  def compactShards(index: DataFrame, shards: Int,
                    params: Params = Params()): DataFrame = {
    import index.sparkSession.implicits._
    val dirty = index.filter(col("deleted"))
      .select("shard").distinct().as[Int].collect().toSeq // ≤ shards
    if (dirty.isEmpty) return index
    val keep = index.filter(!col("shard").isin(dirty: _*))
    val survivors = index
      .filter(col("shard").isin(dirty: _*) && !col("deleted"))
      .select(col("c_id"), col("vec"), col("shard"))
    keep.unionByName(buildFrom(survivors, shards, params))
  }

  /** Co-locate the index by shard for serving. Sharded HNSW engines
    * keep shard graphs RESIDENT across query batches; the Spark
    * equivalent is paying this one exchange once and caching (or
    * writing the result bucketed), then serving every batch through
    * [[topKResident]] with zero index movement. [[topK]] calls this
    * internally for one-shot use.
    */
  def prepare(index: DataFrame): DataFrame =
    index.repartition(col("shard"))

  /** Scatter-gather serve: broadcast the bounded query batch, beam-
    * search every shard's graph, merge with one per-query window over
    * queries × shards × k candidate rows. `ef` is the layer-0 beam
    * (the reference's `hnsw_ef=128` knob). Output:
    * (q_id, rank, c_id, sim). One-shot: co-locates the index first;
    * serving many batches should [[prepare]] + cache once and call
    * [[topKResident]].
    */
  def topK(index: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, ef: Int = 128,
           params: Params = Params()): DataFrame =
    topKResident(prepare(index), queries, idCol, vecCol, k, ef, params)

  /** [[topK]] minus the index exchange: `prepared` MUST be
    * [[prepare]]'s output (every shard wholly inside one partition —
    * a split shard would serve from a partial graph). Tombstoned
    * nodes route but never surface: each shard widens its candidate
    * pull by its tombstone count, then filters, so k survivors come
    * back as long as the shard holds k live rows.
    */
  def topKResident(prepared: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int, ef: Int = 128,
                   params: Params = Params()): DataFrame = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(idCol).cast("long"),
        graft.functions.Vectors.toDouble(col(vecCol)))
      .as[(Long, Seq[Double])].collect() // bounded: the ANN query contract
      .map { case (id, v) => (id, v.toArray, -1) }
    serve(prepared, qRows, k, ef, params, routed = false)
  }
}
