package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{Md5U32, MinHashSignature}

/** Deduplication family for large-scale corpus curation: exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale notes (the reason each shape was chosen):
  * - exact: one shuffle on the 128-bit fingerprint; at 100 TB the
  *   fingerprint (16 B) shuffles, never the text.
  * - MinHash/LSH: signature computed scan-side per row (no shuffle),
  *   then one shuffle keyed on (band, bandHash) whose fan-in is only
  *   colliding docs — the standard near-dup shape for trillion-token
  *   corpora (cf. the MinHashLSH literature / Spark MLlib MinHashLSH).
  * - SimHash: 64-bit signature per doc; near-dup = hamming ≤ k via
  *   band-exact match on signature chunks.
  */
object Dedup {

  /** Hash family for signature construction.
    *
    * [[Xx64]] (default) is the production fast path: 64-bit xxhash64,
    * codegen'd, multi-arg (no shingle string materialization).
    * [[Md5]] is the engine-neutral oracle mode: 32-bit values from the
    * first 8 hex chars of md5 — a hash DuckDB (and any SQL engine with
    * md5) can replay bit-for-bit, the same trick the sampling operators
    * use (see Curation.stratifiedSample). Md5 mode also keys LSH bands
    * on the RAW minima CSV string instead of hashing it (zero false
    * positives, trivially mirrored in SQL); its simhash signature is 32
    * bits wide instead of 64. Use Md5 only for cross-engine
    * verification — xxhash64 is ~10× cheaper per hash.
    */
  sealed trait SigHash
  case object Xx64 extends SigHash
  case object Md5 extends SigHash

  /** Engine-neutral 32-bit hash: the first 4 bytes of md5(s) as a long
    * in [0, 2³²), from the native MD5 of [[graft.expressions.DocHash]]
    * (no hex string, no `conv`). DuckDB mirror:
    * `('0x' || substr(md5(s), 1, 8))::BIGINT`.
    */
  def md5u32(c: Column): Column =
    native(Md5U32(expr(c.cast("string"))))

  private def native(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Word n-shingles (distinct) of a [[Retrieval.tokens]] array. The
    * array is read inside the per-shingle lambda, so pass a column
    * staged by a `select`: an inlined split re-runs per shingle —
    * O(words²) per doc.
    */
  def shingles(words: Column, n: Int = 3): Column = {
    val count = size(words) - (n - 1)
    when(count > 0,
      array_distinct(transform(sequence(lit(1), count), i =>
        concat_ws(" ", (0 until n).map(j => element_at(words, i + j)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Hashes of a token array's n-shingles (staged as for
    * [[shingles]]), skipping the string materialization:
    * `xxhash64(w1, w2, w3)` hashes the shingle's words directly, so no
    * per-shingle `concat_ws` string is ever allocated and the distinct
    * runs over longs, not strings. Signatures only consume shingle
    * HASHES, so this is semantics-preserving for them (equal
    * shingles hash equal; distinct collisions are 2⁻⁶⁴); the MinHash
    * kernel hashes shingles the same way.
    * Exact-Jaccard paths ([[jaccardPairs]], [[jaccardOfSets]]) keep the
    * string form — their postings/intersections are defined on the
    * shingle values themselves.
    */
  def shingleHashes(words: Column, n: Int = 3): Column = {
    val count = size(words) - (n - 1)
    when(count > 0,
      array_distinct(transform(sequence(lit(1), count), i =>
        xxhash64((0 until n).map(j => element_at(words, i + j)): _*))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Exact dedup: keep one survivor row per normalized-text fingerprint
    * (min of `idCol` = deterministic survivor). Returns
    * (fingerprint, keeper id, copies).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  /** MinHash signature of a text column: the `numHashes` minima of its
    * word 3-shingles' hashes under the seeded permutations of the
    * `hash` family, computed per row by the native
    * [[graft.expressions.MinHashSignature]] kernel (one loop per doc:
    * split, hash each shingle once, fold every permutation's minimum).
    * Docs with fewer than 3 words have no shingle and get a null
    * signature; [[bandBuckets]] emits no bucket for them, or every
    * degenerate doc would collide into a single quadratic bucket.
    */
  def minhashSignature(text: Column, numHashes: Int = 32,
                       hash: SigHash = Xx64): Column =
    native(MinHashSignature(expr(lower(text)), numHashes, hash == Md5))

  /** LSH band keys: signature sliced into `bands` bands, each hashed.
    * Docs sharing any (band index, band hash) are near-dup candidates.
    * In [[Md5]] mode the band key is the RAW minima CSV string — no
    * false positives, and any SQL engine reproduces the join key by
    * string equality. `signature` is read once per band: pass a
    * column, not the kernel call.
    */
  def lshBandKeys(signature: Column, bands: Int, rows: Int,
                  hash: SigHash = Xx64): Column =
    // a null (degenerate) signature has no band keys
    when(signature.isNotNull, array((0 until bands).map { b =>
      val key = array_join(slice(signature, b * rows + 1, rows), ",")
      struct(lit(b).as("band"),
        (hash match {
          case Xx64 => xxhash64(key)
          case Md5  => key
        }).as("band_hash"))
    }: _*))

  /** Per-doc MinHash signatures as a relation `(id, sig)`: one
    * projection of [[minhashSignature]] — no explode, no shuffle.
    * Degenerate (zero-shingle) docs keep their row with a null `sig`.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 32,
                        hash: SigHash = Xx64): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, hash).as("sig"))

  /** Candidate near-dup pairs via MinHash+LSH banding.
    * Returns (id_a, id_b) with id_a < id_b, distinct.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 32, bands: Int = 8,
                        hash: SigHash = Xx64): DataFrame = {
    val rows = numHashes / bands
    // materialized once: the signatures feed both sides of the bucket
    // self-join, and exchange reuse does not kick in across the
    // differing aliases — without the checkpoint every doc is hashed
    // twice
    val sig = Materialize(
      minhashSignatures(df, textCol, idCol, numHashes, hash))
    val buckets = bandBuckets(sig, numHashes, bands, hash)
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental near-dup candidates: band a DELTA's signatures
    * against a persisted signature index — the daily-ingest shape at
    * 100 TB, where the corpus signature table (id, sig) is append-only
    * and each batch of new docs must be checked against it WITHOUT
    * recomputing (or even re-shuffling) the corpus. With
    * `broadcastDelta` (the default — a daily delta is bounded), the
    * index side is ONE scan probed by a broadcast hash join; the only
    * shuffled relation is the delta itself. Emits candidate pairs
    * where at least one side is a delta doc: delta×index pairs plus
    * delta×delta pairs, `(id_a < id_b)`, distinct. Contract: delta ids
    * are disjoint from index ids (they haven't been appended yet).
    * After verification, append the delta signatures to the index
    * (e.g. [[Upsert.mergeIntoPartitionedTable]] keyed on id) and the
    * next batch sees them as index rows.
    */
  def incrementalCandidates(indexSigs: DataFrame, deltaSigs: DataFrame,
                            numHashes: Int = 32, bands: Int = 8,
                            broadcastDelta: Boolean = true,
                            hash: SigHash = Xx64): DataFrame = {
    // the delta feeds three consumers below — materialize once
    val dSig = Materialize(deltaSigs)
    val db = bandBuckets(dSig, numHashes, bands, hash)
    val dbSide = if (broadcastDelta) broadcast(db) else db
    val di = bandBuckets(indexSigs, numHashes, bands, hash).as("a")
      .join(dbSide.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val dd = db.as("a").join(db.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    di.union(dd).distinct()
  }

  /** Banded LSH bucket rows `(id, band, band_hash)` for a signature
    * relation (null-signature docs yield no rows) — the shuffled currency of every candidate generator
    * here, and the PERSISTED form of the incremental signature index:
    * storing buckets (not signatures) means later deltas probe the
    * index without re-banding the corpus, and clustering the stored
    * relation by `band_hash` ([[Layout.byKey]]) gives the pruned-scan
    * serve path of [[incrementalCandidatesPruned]].
    */
  def bandBuckets(sigs: DataFrame, numHashes: Int = 32, bands: Int = 8,
                  hash: SigHash = Xx64): DataFrame =
    sigs.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, numHashes / bands, hash))
          .as("bk"))
      .select(col("id"), col("bk.band"), col("bk.band_hash"))

  /** [[incrementalCandidates]] against a PERSISTED pre-banded index
    * ([[bandBuckets]] rows on disk) with the index SCAN pruned by the
    * delta's band-key set — the serve-path contract of
    * `Retrieval.bm25FromIndex`, applied to dedup: the naive form
    * broadcast-joins the delta into a FULL index scan (no shuffle,
    * but at a 100 TB corpus the signature relation is TB-scale and
    * the per-batch full read dominates batch cost). Here the delta's
    * DISTINCT band hashes — bounded by `deltaRows × bands`, driver-
    * sized for any sane micro-batch, cap ENFORCED — are collected and
    * pushed into the index read as an `In(band_hash, …)` LITERAL
    * predicate, which reaches the parquet reader's row-group min/max
    * skipping (unlike a broadcast semi join, which filters after the
    * scan). Under a [[Layout.byKey]]("band_hash") layout the batch
    * genuinely seeks its collision buckets instead of reading the
    * whole index (PlanSpec pins PushedFilters; ScaleSpec pins the
    * scan's surfaced-row delta). Deployment note: size
    * `spark.sql.parquet.pushdown.inFilterThreshold` ABOVE the
    * per-batch distinct-band-key count — past that threshold Spark's
    * parquet translation degrades the In to a min/max range, which
    * over uniformly-hashed band keys skips nothing. Emits the same
    * contract as
    * [[incrementalCandidates]]: delta×index ∪ delta×delta pairs,
    * `id_a < id_b`, distinct — DedupSpec pins pruned ≡ naive.
    */
  def incrementalCandidatesPruned(indexBuckets: DataFrame,
                                  deltaBuckets: DataFrame,
                                  maxDeltaKeys: Int = 1 << 20)
      : DataFrame = {
    val db = Materialize(deltaBuckets)
    // sanctioned bounded collect (the bm25FromIndex isin contract);
    // limit(cap+1) keeps even the failing path's collect bounded
    val keys = db.select(col("band_hash")).distinct()
      .limit(maxDeltaKeys + 1).collect().map(_.get(0))
    require(keys.length <= maxDeltaKeys,
      s"incrementalCandidatesPruned: delta exceeds the $maxDeltaKeys " +
        "distinct-band-key cap that bounds the driver-side In() " +
        "pushdown; split the batch or raise maxDeltaKeys explicitly")
    val pruned = indexBuckets.filter(col("band_hash").isin(
      keys.sortBy(_.toString).toSeq: _*))
    val di = pruned.as("a").join(broadcast(db).as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val dd = db.as("a").join(db.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    di.union(dd).distinct()
  }

  /** Estimated Jaccard from two MinHash signatures (fraction of equal
    * components).
    */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** Jaccard between two precomputed shingle sets. Use this form inside
    * pairwise joins — shingling each doc once before the join beats
    * re-shingling both texts per pair (O(pairs·len) regex work saved).
    */
  def jaccardOfSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Exact n-gram Jaccard between two texts' shingle sets (a per-pair
    * reference: it re-splits each text per shingle).
    */
  def jaccard(textA: Column, textB: Column, n: Int = 3): Column =
    jaccardOfSets(shingles(Retrieval.tokens(textA), n),
      shingles(Retrieval.tokens(textB), n))

  /** All-pairs exact Jaccard above a threshold, via a shingle inverted
    * index instead of a cross join: explode (id, shingle), self-join on
    * the shingle (only docs SHARING a shingle ever meet — zero-overlap
    * pairs are never materialized), count intersections, recover the
    * union from per-doc set sizes. This is the 100 TB shape: shuffle is
    * keyed on shingle, fan-in per key = that shingle's doc frequency.
    * `maxDocFreq` (optional) drops stop-shingles whose posting lists
    * would skew the shuffle — exact results require it disabled.
    * Output: (id_a, id_b, jaccard), id_a < id_b.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   minJaccard: Double = 0.0,
                   maxDocFreq: Option[Int] = None): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), Retrieval.tokens(col(textCol)).as("w"))
      .select(col("id"), explode(shingles(col("w"))).as("sgl"))
    val posting = maxDocFreq match {
      case Some(m) =>
        val hot = sh.groupBy("sgl").agg(count(lit(1)).as("df"))
          .filter(col("df") > m).select("sgl")
        sh.join(hot, Seq("sgl"), "left_anti")
      case None => sh
    }
    // shingles are distinct per doc, so count(*) = |set|
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = posting.as("a").join(posting.as("b"),
        col("a.sgl") === col("b.sgl") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    inter.join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") /
          (col("sa.n") + col("sb.n") - col("i")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") > minJaccard)
  }

  /** Connected-component resolution over candidate near-dup pairs:
    * turns a pair list (id_a, id_b) into (id, cluster) where `cluster`
    * is the minimum id in the component — the canonical survivor key.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every vertex takes the min of (own label, neighbors'
    * labels, label-of-label); the jump step halves chain depth per
    * round, so convergence is O(log diameter) rounds, not O(diameter)
    * — near-dup graphs are mostly LSH-bucket cliques (diameter 1-2)
    * with occasional chains, so this terminates in 2-4 rounds in
    * practice. Each round is two shuffles keyed on id (edge join +
    * label self-join); [[Materialize]] truncates the iterative plan
    * lineage so round N doesn't replay rounds 1..N-1 (the classic
    * iterative-DataFrame trap). Mirrors the reference's
    * survivor-by-unique-key upsert semantics (mongo_io_manager.py:
    * 79-104) lifted to transitive near-dup groups at corpus scale.
    *
    * Input must carry columns `id_a`, `id_b` (the convention of every
    * pair emitter in this object). Output: (id, cluster), one row per
    * vertex that appears in at least one pair.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val fwd = pairs.select(col("id_a").as("id"), col("id_b").as("nbr"))
    val rev = pairs.select(col("id_b").as("id"), col("id_a").as("nbr"))
    // materialized once, reused every round
    val edges = Materialize(fwd.union(rev))
    var labels = Materialize(edges.groupBy(col("id"))
      .agg(least(col("id"), min(col("nbr"))).as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label among neighbors (labels' keys = all vertices with an
      // edge, so the inner join is total)
      val nbrMin = edges
        .join(labels.select(col("id").as("nbr"), col("label")), "nbr")
        .groupBy(col("id")).agg(min(col("label")).as("nl"))
      // pointer jump: label(label(id)). Labels are always vertex ids
      // (min over ids), so the inner self-join is total too.
      val jumped = labels
        .join(labels.select(col("id").as("label"), col("label").as("jl")),
          "label")
        .select(col("id"), col("jl"))
      val next = Materialize(labels.join(nbrMin, "id").join(jumped, "id")
        .select(col("id"),
          least(col("label"), col("nl"), col("jl")).as("label")))
      converged = next
        .join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") =!= col("old"))
        .isEmpty
      labels = next
      iter += 1
    }
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** End-to-end near-duplicate removal — the missing last step of the
    * candidate emitters above: MinHash+LSH candidates → exact-Jaccard
    * verification (shingled once, joined by candidate id only) →
    * [[resolveClusters]] → keep the min-id survivor per cluster.
    * Returns the input rows minus non-survivor near-dups.
    *
    * Scale shape: the verify join shuffles shingle arrays only for ids
    * that appear in a candidate pair (≪ corpus), and the cluster
    * resolution only sees verified pairs — the full corpus is touched
    * exactly once (signature scan) plus one anti-join at the end.
    */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
                   minJaccard: Double = 0.8, numHashes: Int = 32,
                   bands: Int = 8): DataFrame =
    dropNearDupsWith(df, textCol, idCol,
      minhashCandidates(df, textCol, idCol, numHashes, bands), minJaccard)

  /** The composition tail of [[dropNearDups]] with caller-supplied
    * candidate pairs (id_a, id_b): exact-Jaccard verify →
    * [[resolveClusters]] → anti-join the non-survivor ids away.
    * Callers choose the candidate generator by recall/cost: LSH
    * banding at scale ([[dropNearDups]]), or exact [[jaccardPairs]]
    * candidates when zero-miss behavior must hold (the oracle-checked
    * q79 path).
    */
  def dropNearDupsWith(df: DataFrame, textCol: String, idCol: String,
                       cands: DataFrame, minJaccard: Double): DataFrame = {
    val sh = df
      .select(col(idCol).as("vid"), Retrieval.tokens(col(textCol)).as("w"))
      .select(col("vid"), shingles(col("w")).as("vsh"))
    val verified = cands
      .join(sh.select(col("vid").as("id_a"), col("vsh").as("sh_a")), "id_a")
      .join(sh.select(col("vid").as("id_b"), col("vsh").as("sh_b")), "id_b")
      .filter(jaccardOfSets(col("sh_a"), col("sh_b")) >= minJaccard)
      .select(col("id_a"), col("id_b"))
    val losers = resolveClusters(verified)
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** SimHash signatures for a whole table, relationally: explode each
    * doc's shingle hashes (hashed ONCE), then a single hash-aggregate
    * with 64 codegen'd long sums — one shuffle of (id, 64 longs)
    * partials with map-side combine. (A per-row HOF formulation, 64
    * interpreted lambda passes per doc, profiled ~30× slower at sf0.01.)
    * Output: (id, sig). Docs with zero shingles are dropped (no
    * similarity signal — same rationale as [[minhashCandidates]]).
    */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        hash: SigHash = Xx64): DataFrame = {
    val width = simhashWidth(hash)
    val w = df
      .select(col(idCol).as("id"), Retrieval.tokens(col(textCol)).as("w"))
    val hashed = hash match {
      case Xx64 =>
        w.select(col("id"), explode(shingleHashes(col("w"))).as("h"))
      case Md5 =>
        w.select(col("id"), explode(shingles(col("w"))).as("sgl"))
          .select(col("id"), md5u32(col("sgl")).as("h"))
    }
    val bitSums = (0 until width).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L)).as(s"b$j"))
    hashed.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("id"),
        (0 until width).map(j =>
          when(col(s"b$j") * 2 > col("n"), shiftleft(lit(1L), j))
            .otherwise(lit(0L))).reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** Signature width per hash family: 64 bits for xxhash64, 32 for the
    * md5-derived oracle hash (8 hex chars).
    */
  def simhashWidth(hash: SigHash): Int = hash match {
    case Xx64 => 64
    case Md5  => 32
  }

  /** Hamming distance between two 64-bit signatures (as long — bit_count
    * itself yields int).
    */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup candidates: docs agreeing on any 16-bit quarter of
    * the signature (catches all pairs with hamming ≤ 3).
    *
    * Shape: signatures are materialized ONCE ([[Materialize]] — the
    * explode + 64-bit-sum aggregate is the expensive subplan and feeds
    * four consumers below), the banded self-join carries only
    * (id, band, bits) — three longs, not the signature — and the
    * `(id_a, id_b)` pairs are deduplicated BEFORE hamming, so the
    * distinct combines map-side over two columns. Hamming is then
    * recovered from the tiny (id, sig) relation, which is already
    * hash-partitioned on id by its own aggregate.
    */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3,
                        hash: SigHash = Xx64): DataFrame = {
    val bandBits = simhashWidth(hash) / 4
    val mask = (1L << bandBits) - 1L
    val sig = Materialize(simhashSignatures(df, textCol, idCol, hash))
    val banded = sig.select(col("id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * bandBits).bitwiseAND(mask)
            .as("bits"))): _*))
        .as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bits"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= maxHamming)
  }

  /** Fingerprints of every token k-gram WITH its position: one array
    * element per start index 0..len−k, computed scan-side (no shuffle,
    * no per-gram string in Xx64 mode — the multi-arg xxhash64 trick
    * from [[shingleHashes]], positions implicit in array order).
    * `toks` is a staged [[Retrieval.tokens]] column (read inside the
    * lambda).
    */
  private def gramFps(toks: Column, k: Int, hash: SigHash): Column = {
    val count = size(toks) - (k - 1)
    when(count > 0, transform(sequence(lit(1), count), i =>
      hash match {
        case Xx64 => xxhash64((0 until k).map(j =>
          element_at(toks, i + j)): _*)
        case Md5 => md5u32(concat_ws(" ", (0 until k).map(j =>
          element_at(toks, i + j)): _*))
      })).otherwise(array().cast("array<bigint>"))
  }

  /** EXACT SUBSTRING DEDUP — the span-level operator document-level
    * dedup cannot express (Lee, Ippolito et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: duplicated
    * PASSAGES — boilerplate, licenses, templates — recur across
    * otherwise-distinct documents and measurably hurt LMs). Finds
    * every token k-gram occurring more than once in the corpus, keeps
    * its globally FIRST occurrence (min (doc, pos) — deterministic),
    * marks every other occurrence's token range [pos, pos+k) as
    * duplicated, and merges overlapping ranges per doc, so a repeated
    * passage of any length ≥ k comes back as ONE maximal span per
    * duplicate site. Returns (doc id, span_start, span_end) in
    * 0-based token coordinates, end exclusive.
    *
    * Scale shape: grams fingerprint scan-side ([[gramFps]] — 8-byte
    * hashes, positions implicit); the ONLY corpus-wide shuffle keys on
    * the fingerprint (the first-occurrence window), never text; the
    * interval merge is a per-doc window over just the duplicate-site
    * rows (a corpus-fraction). At 100 TB this is the suffix-array
    * pipeline's relational equivalent: O(tokens) fingerprint rows in,
    * duplicate-site rows out.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, hash: SigHash = Xx64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = df.select(col(idCol).cast("long").as("doc_id"),
        Retrieval.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(gramFps(col("toks"), k, hash)).as(Seq("pos", "fp")))
    // rn > 1 ⇔ a non-first occurrence of a fingerprint seen ≥ 2 times;
    // (doc_id, pos) is unique per fp, so the order is total
    val wFp = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("pos"))
    val dupSites = occ
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        (col("pos") + k).cast("long").as("end"))
    // gaps-and-islands interval merge: a site opens a new span iff it
    // starts past every earlier site's max end (starts are unique per
    // doc — one gram per position — so the ordering is total)
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dupSites
      .withColumn("new_grp",
        when(col("start") > coalesce(max(col("end")).over(wPrev),
          lit(-1L)), 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_grp")).over(wCum))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("start")).as("span_start"),
        max(col("end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Rewrite each doc's normalized token stream with its duplicated
    * spans removed (the Lee et al. "ExactSubstr" cut: every duplicate
    * SITE loses its tokens; the globally-first occurrence survives in
    * place). Returns (doc id, clean_text, kept_tokens,
    * removed_tokens). Docs without spans pass through with their
    * normalized text intact. The corpus is touched in ONE pass: the
    * per-doc span arrays join keyed on the doc id, so the only data
    * that ever moves for the join is span COORDINATES (the relation
    * is duplicate-site-bounded — a corpus fraction, co-partitioned by
    * doc at scale; small enough at test SF that AQE broadcasts it),
    * never text.
    */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          spans: DataFrame): DataFrame = {
    val spanArr = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    // stage the tokens, the spans the filter lambda reads, and the kept
    // tokens read three times below
    df.select(col(idCol).cast("long").as("doc_id"), col(textCol))
      .join(spanArr, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), Retrieval.tokens(col(textCol)).as("toks"),
        coalesce(col("__spans"),
          array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("sp"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), (_, i) =>
          !exists(col("sp"), s => i >= s.getField("span_start") &&
            i < s.getField("span_end"))).as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("removed_tokens"))
  }

  /** Corpus-wide LINE-level boilerplate removal — the C4 cleaning
    * step [[duplicateSpans]] does not cover (C4 §2.2, arXiv:1910.10683:
    * lines recurring across pages are navigation/cookie-notice
    * boilerplate, stripped BEFORE page-level dedup): any line that
    * appears in at least `minDupDocs` DISTINCT documents is dropped
    * from every document; line order is otherwise preserved.
    *
    * Scale shape: lines explode once, then only their MD5s shuffle
    * (md5, not xxhash64, because the oracle engine must replay the
    * very same fingerprint — the cross-engine-function constraint;
    * 32-hex-char keys, never line text). The boilerplate set is a
    * count-distinct-docs aggregate over those hashes, materialized
    * once ([[Materialize]]) and anti-joined back; reassembly is one
    * groupBy on the doc id, co-located when the source is already
    * partitioned by id. Documents whose every line is boilerplate
    * survive as empty text (n_kept = 0), never disappear.
    *
    * Output: (doc_id, text, n_kept, n_dropped).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDupDocs: Int = 2): DataFrame = {
    require(minDupDocs >= 2, "minDupDocs below 2 would drop every line")
    val lines = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val boiler = Materialize(lines
      .select(md5(col("line").cast("binary")).as("lh"), col("doc_id"))
      .distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("docs"))
      .filter(col("docs") >= minDupDocs)
      .select(col("lh")))
    val kept = lines
      .join(boiler.withColumnRenamed("lh", "__boiler"),
        md5(col("line").cast("binary")) === col("__boiler"), "left_anti")
    val totals = lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_total"))
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(
        concat_ws("\n",
          sort_array(collect_list(struct(col("pos"), col("line"))))
            .getField("line")).as("text"),
        count(lit(1)).as("n_kept"))
    totals
      .join(reassembled, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }
}
