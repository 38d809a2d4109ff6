package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog " * 5
  private val docANear = // one word changed → near-dup, not exact
    ("the quick brown fox jumps over the lazy dog " * 4) +
      "the quick brown fox leaps over the lazy dog "
  private val docB = "completely different content about spark engines " +
    "partitioning shuffles and catalyst optimization rules " * 4

  test("shingles: distinct 3-grams, short text → empty") {
    val out = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles($"t").as("s")).collect()
    assert(out(0).getSeq[String](0).toSet == Set("a b c", "b c d"))
    assert(out(1).getSeq[String](0).isEmpty)
  }

  test("exact dedup keeps min-id survivor with copy count") {
    val df = Seq((1L, "Same  Text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    // fingerprint lowercases + collapses whitespace → 1 and 2 collide
    val out = Dedup.exact(df, "text", "doc_id").orderBy("keeper").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keeper") == 1L &&
      out(0).getAs[Long]("copies") == 2L)
  }

  test("jaccard: identical → 1, near-dup high, unrelated low") {
    val df = Seq((docA, docA), (docA, docANear), (docA, docB))
      .toDF("a", "b")
    val out = df.select(Dedup.jaccard($"a", $"b").as("j")).collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).getDouble(0) > 0.5)
    assert(out(2).getDouble(0) < 0.1)
  }

  test("minhashCandidates surfaces near-dups, not unrelated pairs") {
    val df = Seq((1L, docA), (2L, docANear), (3L, docB)).toDF("id", "text")
    val pairs = Dedup.minhashCandidates(df, "text", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("minhashCandidates: degenerate (empty/short) docs never collide") {
    // empty and sub-shingle-length docs have no similarity signal; if
    // they banded, every degenerate doc would land in ONE bucket — a
    // quadratic self-join at corpus scale
    val df = Seq((1L, docA), (2L, docANear), (3L, ""), (4L, ""),
      (5L, "one two"), (6L, null.asInstanceOf[String])).toDF("id", "text")
    val pairs = Dedup.minhashCandidates(df, "text", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccardPairs (inverted index) agrees with direct pairwise " +
    "jaccard and never materializes zero-overlap pairs") {
    val df = Seq((1L, docA), (2L, docANear), (3L, "zz yy xx ww vv uu"))
      .toDF("id", "text")
    val pairs = Dedup.jaccardPairs(df, "text", "id").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val direct = Seq((docA, docANear)).toDF("a", "b")
      .select(Dedup.jaccard($"a", $"b")).head.getDouble(0)
    assert(math.abs(pairs((1L, 2L)) - direct) < 1e-12)
    // doc 3 shares no shingle with anything → absent entirely
    assert(pairs.keySet == Set((1L, 2L)))
  }

  test("minhash LSH banding recall ≥ 0.9 on pairs with jaccard ≥ 0.7") {
    // controlled corpus: 40 base docs; every even doc gets a mutated
    // twin whose similarity depends on how many words were replaced
    val rnd = new scala.util.Random(5)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu",
      "xi", "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    def doc(): Array[String] = Array.fill(60)(vocab(rnd.nextInt(vocab.size)))
    val bases = (0 until 40).map(i => i.toLong -> doc())
    val twins = bases.collect { case (i, words) if i % 2 == 0 =>
      val w = words.clone()
      val mutations = 1 + rnd.nextInt(8) // light mutation → high jaccard
      (0 until mutations).foreach { _ =>
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
      }
      (i + 100) -> w
    }
    val df = (bases ++ twins)
      .map { case (i, w) => (i, w.mkString(" ")) }.toDF("id", "text")

    val exact = Dedup.jaccardPairs(df, "text", "id").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val highSim = exact.filter(_._2 >= 0.7).keySet
    assert(highSim.nonEmpty, "corpus must contain high-similarity pairs")

    val candidates = Dedup.minhashCandidates(df, "text", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (highSim intersect candidates).size.toDouble / highSim.size
    assert(recall >= 0.9, s"LSH banding recall too low: $recall " +
      s"(${highSim.size} high-sim pairs, ${candidates.size} candidates)")
  }

  test("minhashJaccard estimates true jaccard within tolerance") {
    val df = Seq((docA, docANear)).toDF("a", "b")
      .select(Dedup.minhashSignature($"a", 64).as("sa"),
        Dedup.minhashSignature($"b", 64).as("sb"))
    val est = df.select(Dedup.minhashJaccard($"sa", $"sb").as("e"))
      .head.getDouble(0)
    val exact = Seq((docA, docANear)).toDF("a", "b")
      .select(Dedup.jaccard($"a", $"b")).head.getDouble(0)
    assert(math.abs(est - exact) < 0.25)
  }

  test("simhash: identical texts equal, near-dups within small hamming") {
    val sigs = Dedup.simhashSignatures(
      Seq((1L, docA), (2L, docA), (3L, docANear), (4L, docB))
        .toDF("id", "text"), "text", "id")
    val out = sigs.as("a").join(sigs.as("b"), $"a.id" === 1L && $"b.id" =!= 1L)
      .select($"b.id", Dedup.hamming($"a.sig", $"b.sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 0L)
    assert(out(3L) < out(4L)) // near-dup closer than unrelated
  }

  test("simhashCandidates finds exact copies") {
    val df = Seq((1L, docA), (2L, docA), (3L, docB)).toDF("id", "text")
    val pairs = Dedup.simhashCandidates(df, "text", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("incrementalCandidates == full-batch candidates restricted to " +
    "delta-touching pairs") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // delta: every 5th doc re-keyed (disjoint ids) — exact copies of
    // index docs plus whatever real near-dups the corpus has
    val index = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val indexSigs = Dedup.minhashSignatures(index, "text", "doc_id")
    val deltaSigs = Dedup.minhashSignatures(delta, "text", "doc_id")
    val incr = Dedup.incrementalCandidates(indexSigs, deltaSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(index.unionByName(delta),
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deltaTouching = full.filter { case (a, b) =>
      a >= 10000000L || b >= 10000000L }
    assert(incr == deltaTouching,
      s"incremental ${incr.size} pairs vs expected ${deltaTouching.size}")
    // and the incremental path never emits index-only pairs
    assert(incr.forall { case (a, b) => a >= 10000000L || b >= 10000000L })
    assert(incr.nonEmpty) // the planted exact copies must collide
  }

  test("incrementalCandidatesPruned over a persisted byKey index == " +
    "the naive full-scan incremental path") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val index = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val indexSigs = Dedup.minhashSignatures(index, "text", "doc_id")
    val deltaSigs = Dedup.minhashSignatures(delta, "text", "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bandidx").toString
    graft.operators.Layout.byKey(
        Dedup.bandBuckets(indexSigs), "band_hash", 4)
      .write.mode("overwrite").parquet(s"$dir/idx")
    val pruned = Dedup.incrementalCandidatesPruned(
        spark.read.parquet(s"$dir/idx"), Dedup.bandBuckets(deltaSigs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = Dedup.incrementalCandidates(indexSigs, deltaSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == naive,
      s"pruned ${pruned.size} pairs vs naive ${naive.size}")
    assert(pruned.nonEmpty)
  }

  test("resolveClusters labels every component by its min id") {
    // three known components: a 5-clique, a triangle, an isolated edge
    val clique = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tri = Seq((10L, 11L), (11L, 12L))
    val edge = Seq((20L, 21L))
    val pairs = (clique ++ tri ++ edge).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((10L to 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 10)
  }

  test("resolveClusters converges on a long chain (pointer jumping)") {
    // a 200-node path is the worst case for plain neighbor propagation
    // (diameter 199); the label-of-label jump must close it within the
    // default maxIter = 25 (≈ log2 bound + slack)
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L))
  }

  test("resilient materialize mode (persist/checkpoint) ≡ local mode " +
    "for candidates and cluster resolution") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dup = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val df = docs.unionByName(dup)
    def run() = {
      val cands = Dedup.minhashCandidates(df, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val clusters = Dedup.resolveClusters(
          Dedup.minhashCandidates(df, "text", "doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (cands, clusters)
    }
    val local = run()
    spark.conf.set(graft.operators.Materialize.ModeKey, "resilient")
    try {
      val persisted = run() // no checkpoint dir → DISK_ONLY persist
      assert(persisted == local)
      val cpDir = java.nio.file.Files
        .createTempDirectory("graft-cp").toString
      spark.sparkContext.setCheckpointDir(cpDir)
      try {
        val checkpointed = run() // reliable checkpoint path
        assert(checkpointed == local)
      } finally spark.sparkContext.setCheckpointDir(null)
    } finally spark.conf.unset(graft.operators.Materialize.ModeKey)
  }

  test("duplicateSpans finds repeated k-gram passages across docs, " +
    "keeps the globally-first site, and merges overlaps into maximal " +
    "spans") {
    // doc 1: unique prefix + an 8-token boilerplate passage
    // doc 2: a different prefix + the SAME passage (duplicate site)
    // doc 3: passage repeated TWICE back-to-back (overlap merge within
    //        one doc) after a unique head
    // doc 4: wholly unique
    val boiler = "all rights reserved contact us for more information"
    val df = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta $boiler trailing words here"),
      (3L, s"unique head tokens $boiler $boiler"),
      (4L, "nothing here repeats at all in any way whatsoever ever"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 holds the first occurrence (min (doc, pos)) → no spans;
    // doc 2: boiler at tokens [2, 10); doc 3: both copies merge into
    // [3, 19) — the second copy's grams AND the straddling grams chain
    assert(spans.toSeq == Seq((2L, 2L, 10L), (3L, 3L, 19L)))
    // strip: duplicate sites lose their tokens, first site survives
    val clean = Dedup.stripDuplicateSpans(df, "doc_id", "text",
        Dedup.duplicateSpans(df, "doc_id", "text", k = 4))
      .orderBy("doc_id").collect()
    assert(clean(0).getString(1) == s"alpha beta gamma delta $boiler")
    assert(clean(1).getString(1) == "epsilon zeta trailing words here")
    assert(clean(1).getLong(3) == 8L) // removed_tokens
    assert(clean(2).getString(1) == "unique head tokens")
    assert(clean(2).getLong(2) == 3L && clean(2).getLong(3) == 16L)
    assert(clean(3).getString(1) ==
      "nothing here repeats at all in any way whatsoever ever")
    assert(clean(3).getLong(3) == 0L)
    // md5 oracle mode finds the identical spans
    val md5Spans = Dedup.duplicateSpans(df, "doc_id", "text", k = 4,
        hash = Dedup.Md5)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(md5Spans.toSeq == spans.toSeq)
    // idempotent: stripping the cleaned corpus removes nothing
    val clean2 = Dedup.stripDuplicateSpans(
      df.select($"doc_id", $"text"), "doc_id", "text",
      Dedup.duplicateSpans(df, "doc_id", "text", k = 4))
    val again = clean2.select($"doc_id", $"clean_text".as("text"))
    assert(Dedup.duplicateSpans(again, "doc_id", "text", k = 4)
      .count() == 0)
  }

  test("property: on random small-vocab corpora (dense natural " +
    "duplication), substring-strip is idempotent, conserves tokens, " +
    "and replays deterministically") {
    (0 until 4).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      val vocab = (0 until 15).map(i => s"t$i")
      val df = (0 until 25).map { i =>
        val n = 5 + rnd.nextInt(25)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = 4)
      val clean = Dedup.stripDuplicateSpans(df, "doc_id", "text", spans)
        .cache()
      // conservation: kept + removed = the doc's token count
      val bad = clean.join(
          df.select($"doc_id",
            org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.split($"text", " "))
              .cast("long").as("total")),
          Seq("doc_id"))
        .filter($"kept_tokens" + $"removed_tokens" =!= $"total")
      assert(bad.count() == 0, s"trial $trial: token loss")
      // idempotent: the cleaned corpus has no duplicated k-gram left
      val again = clean.select($"doc_id", $"clean_text".as("text"))
      assert(Dedup.duplicateSpans(again, "doc_id", "text", k = 4)
        .count() == 0, s"trial $trial: strip not idempotent")
      // deterministic: both hash modes and a re-run agree on the spans
      val key = (d: org.apache.spark.sql.DataFrame) =>
        d.collect().map(_.toString).sorted.toSeq
      assert(key(spans) ==
        key(Dedup.duplicateSpans(df, "doc_id", "text", k = 4)),
        s"trial $trial: nondeterministic spans")
      assert(key(spans) == key(Dedup.duplicateSpans(df, "doc_id",
        "text", k = 4, hash = Dedup.Md5)),
        s"trial $trial: hash modes disagree")
      clean.unpersist()
    }
  }

  test("null-text rows tokenize to zero, not -1: no spans, zero strip " +
    "counts, other docs unaffected") {
    val df = Seq((1L, "x y z x y z x y z"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = 3)
    assert(spans.filter($"doc_id" === 2L).count() == 0)
    val out = Dedup.stripDuplicateSpans(df, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
    // doc 1's in-doc repeats still dedup; doc 2 strips to clean zeros
    assert(out(0).getLong(3) > 0L)
    assert(out(1).getString(1) == "" && out(1).getLong(2) == 0L &&
      out(1).getLong(3) == 0L)
  }

  test("dropNearDups keeps the min-id survivor per near-dup cluster") {
    // 1,2 near-dup; 4 an exact copy of 1 (→ one cluster {1,2,4});
    // 3 unrelated; 5 too short to shingle (must survive untouched)
    val df = Seq((1L, docA), (2L, docANear), (3L, docB), (4L, docA),
      (5L, "tiny")).toDF("id", "text")
    val kept = Dedup.dropNearDups(df, "text", "id", minJaccard = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // idempotent: re-running on the survivors removes nothing
    val again = Dedup.dropNearDups(
      df.filter($"id".isin(kept.toSeq: _*)), "text", "id", minJaccard = 0.5)
    assert(again.count() == kept.size)
  }

  test("dedupLines strips lines recurring across >= minDupDocs docs, " +
    "preserves order, counts per-DOC not per-occurrence, and keeps " +
    "all-boilerplate docs as empty rows") {
    val docs = Seq(
      (1L, "COOKIE\nalpha\nbeta\nCOOKIE"),  // boilerplate twice in ONE
      (2L, "COOKIE\ngamma"),                 // doc: distinct-doc count
      (3L, "delta\nCOOKIE\nepsilon"),        // is 4, not 5
      (4L, "COOKIE"),                        // all-boilerplate doc
      (5L, "zeta\nzeta")                     // intra-doc repeat: 1 doc,
    ).toDF("id", "text")                     // NOT boilerplate
    val out = Dedup.dedupLines(docs, "id", "text", minDupDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha\nbeta", 2L, 2L)))
    assert(out(2L) == (("gamma", 1L, 1L)))
    assert(out(3L) == (("delta\nepsilon", 2L, 1L)))
    assert(out(4L) == (("", 0L, 1L)))        // survives as empty
    assert(out(5L) == (("zeta\nzeta", 2L, 0L)))
    // below threshold nothing is dropped
    val none = Dedup.dedupLines(docs, "id", "text", minDupDocs = 5)
      .agg(org.apache.spark.sql.functions.sum($"n_dropped")).head.getLong(0)
    assert(none == 0L)
  }
}
