package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text analysis over the `documents` table: token
  * counting, quality scoring, language ID, fingerprinting. All pure
  * codegen'd column expressions — at 100 TB these run inside the scan's
  * whole-stage-codegen span with zero shuffles.
  */
object TextAnalysis {

  /** Whitespace-token count. */
  def wsTokenCount(text: Column): Column =
    size(array_remove(split(text, "\\s+"), ""))

  /** BPE-ish subword proxy: alphanumeric runs split into ≤4-char pieces
    * (a deterministic stand-in for a real tokenizer's piece count).
    * [[bpePieceCount]] is the honest version: a real merge-table BPE
    * over a frozen toy vocab.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]{1,4}"))

  /** Frozen toy BPE merge table (GPT-2-style byte-pair encoding,
    * Sennrich, Haddow & Birch, "Neural Machine Translation of Rare
    * Words with Subword Units", ACL 2016) — 60 merges over [a-z],
    * committed in the repo so counts are reproducible with zero
    * egress (a tiny stand-in for the reference's HF tokenizer vocab,
    * chunk_splitter.py:52-62). WELL-FORMED by construction: each
    * rule's operands are single letters or outputs of EARLIER rules,
    * and each rule's output symbol is NEW — together these make
    * rank-ascending sequential application equivalent to the classic
    * min-rank merge loop (a merge can only create pairs mentioning
    * its own output symbol, which no rule of earlier rank
    * references, so no merge ever re-enables an already-passed
    * rule). BpeLoopSpec pins the equivalence.
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "o" -> "n", "e" -> "r",
    "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r", "e" -> "s",
    "t" -> "i", "t" -> "e", "o" -> "u", "a" -> "r", "s" -> "t",
    "a" -> "l", "i" -> "t", "i" -> "s", "l" -> "e", "s" -> "e",
    "th" -> "e", "an" -> "d", "in" -> "g", "ti" -> "on", "a" -> "tion",
    "e" -> "d", "c" -> "o", "d" -> "e", "r" -> "o", "r" -> "a",
    "l" -> "i", "l" -> "a", "m" -> "a", "s" -> "i", "d" -> "i",
    "u" -> "n", "u" -> "r", "l" -> "o", "h" -> "a", "h" -> "e",
    "h" -> "i", "c" -> "e", "c" -> "a", "p" -> "o", "p" -> "a",
    "p" -> "e", "m" -> "e", "m" -> "i", "n" -> "o", "n" -> "e",
    "t" -> "o", "t" -> "a", "er" -> "s", "in" -> "e", "e" -> "st",
    "o" -> "w", "s" -> "h", "w" -> "i", "d" -> "u", "u" -> "p")

  /** Frozen-vocab BPE piece count as a SCAN-SIDE column expression —
    * pure codegen'd string functions, no UDF, no shuffle. Letters are
    * wrapped as `<x>` markers (non-letters collapse to spaces first,
    * so a stray literal '<' can't forge a piece and merges never span
    * words); each merge is then ONE literal `replace('<a><b>' →
    * '<ab>')` in rank order — leftmost non-overlapping replacement is
    * exactly the tokenizer's greedy left-to-right merge pass — and
    * the piece count is the number of surviving '<' markers. The same
    * chain runs verbatim on the JVM ([[bpePieces]]) and as generated
    * DuckDB SQL (q119's oracle), so all three engines replay the
    * ALGORITHM, not each other's outputs.
    */
  def bpePieceCount(text: Column,
                    merges: Seq[(String, String)] = bpeMerges): Column =
    if (merges.length <= chainMaxMerges) {
      val cleaned = regexp_replace(lower(text), "[^a-z]+", " ")
      val wrapped = regexp_replace(cleaned, "([a-z])", "<$1>")
      val merged = merges.foldLeft(wrapped) { case (c, (a, b)) =>
        org.apache.spark.sql.functions.replace(
          c, lit(s"<$a><$b>"), lit(s"<$a$b>"))
      }
      (length(merged) - length(
        org.apache.spark.sql.functions.replace(merged, lit("<"), lit(""))))
        .cast("int")
    } else bpePieceCountLoop(text, merges)

  /** Largest merge table the nested-replace chain (Column and SQL
    * forms) is generated for. The chain is one `replace()` node PER
    * RULE — a 50k-rule GPT-2-class table would build a 50k-deep
    * Catalyst expression tree (analyzer stack depth, codegen method
    * size) and make every row pay 50k full-string passes. Above this
    * bound [[bpePieceCount]] routes to [[bpePieceCountLoop]], whose
    * cost is O(len·log len) per string regardless of table size.
    */
  val chainMaxMerges: Int = 128

  /** [[bpePieceCount]] by the classic min-rank merge loop
    * ([[graft.expressions.BpePieceCount]]) — ONE native codegen'd
    * expression whose merge table rides as a single reference object,
    * so expression depth and per-row cost are independent of table
    * size. This is the execution path for loaded GPT-2-scale tables;
    * for tables satisfying [[bpeMergesFrom]]'s validated properties it
    * computes exactly the replace chain's result (BpeLoopSpec pins the
    * equivalence, including property-tested random valid tables).
    */
  def bpePieceCountLoop(text: Column,
                        merges: Seq[(String, String)] = bpeMerges): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.BpePieceCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        merges.toArray))

  /** JVM piece counter — the chunker's budget counter. Runs the
    * min-rank merge loop (table-size-independent; see
    * [[bpePieceCountLoop]]); equal to the replace chain
    * ([[bpePiecesChain]]) on every table [[bpeMergesFrom]] admits.
    */
  def bpePieces(text: String,
                merges: Seq[(String, String)] = bpeMerges): Int =
    graft.expressions.BpePieceCount.pieces(
      text, graft.expressions.BpePieceCount.compile(merges.toArray))

  /** JVM twin of the nested-replace CHAIN form of [[bpePieceCount]]
    * (identical fold over `String.replace`) — kept as the oracle
    * shape the DuckDB SQL mirrors and as BpeLoopSpec's equivalence
    * baseline. O(nMerges) passes per string: use [[bpePieces]] for
    * real work.
    */
  def bpePiecesChain(text: String,
                     merges: Seq[(String, String)] = bpeMerges): Int = {
    val cleaned = text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z]+", " ")
    val wrapped = cleaned.replaceAll("([a-z])", "<$1>")
    val merged = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      s.replace(s"<$a><$b>", s"<$a$b>")
    }
    merged.count(_ == '<')
  }

  /** DuckDB expression computing [[bpePieceCount]] over SQL column
    * `input` — generated from the same frozen merge table the Spark
    * and JVM paths fold over (algorithm replay, not a fitted
    * literal). Chain-mode only: each rule is one more nested
    * `replace()`, so the form is capped at [[chainMaxMerges]] rules —
    * a 50k-rule table would exceed SQL parser expression depth; the
    * loop path has no SQL twin by design (oracled queries use toy
    * tables).
    */
  def bpePieceCountSql(input: String,
                       merges: Seq[(String, String)] = bpeMerges): String = {
    require(merges.length <= chainMaxMerges,
      s"bpePieceCountSql: the nested-replace SQL form is only " +
        s"generated for chain-mode tables (<= $chainMaxMerges rules); " +
        "larger tables execute via the min-rank loop, which has no " +
        "SQL twin")
    val wrapped = "regexp_replace(regexp_replace(lower(" + input +
      "), '[^a-z]+', ' ', 'g'), '([a-z])', '<\\1>', 'g')"
    merges.foldLeft(wrapped) { case (s, (a, b)) =>
      s"replace($s, '<$a><$b>', '<$a$b>')"
    }
  }

  /** Load a BPE merge table from a DataFrame — real deployments carry
    * the reference tokenizer's learned merges (GPT-2's merges.txt is
    * 50k rank-ordered pairs), far beyond [[bpeMerges]]'s built-in toy
    * table. `rankCol` orders the rules (row order in a DataFrame is
    * not a contract); the collect is BOUNDED like
    * [[viLexiconFrom]]'s — `maxMerges` caps it, and an over-cap
    * source throws rather than silently truncating (a partial merge
    * table would silently change every piece count). The loaded table
    * then rides to executors as ONE codegen reference object (the
    * min-rank loop path, [[bpePieceCountLoop]]) — broadcast-scale
    * model state, never a shuffle participant.
    *
    * Each rule is validated against the properties that make the
    * rank-ascending replace chain EQUAL to the classic min-rank merge
    * loop: an operand must be a single character or the output of an
    * earlier rule, AND each rule's output symbol must be NEW (then a
    * merge can only create pairs involving its own output symbol,
    * which no rule of earlier rank references — so no merge ever
    * re-enables an already-passed rule; see [[bpeMerges]]). Merge
    * tables learned by the standard BPE trainer (Sennrich et al.
    * 2016) satisfy both by construction — every merge mints one new
    * vocab symbol; a violating row throws with its rank.
    */
  def bpeMergesFrom(merges: DataFrame, leftCol: String, rightCol: String,
                    rankCol: String,
                    maxMerges: Int = 50000): Seq[(String, String)] = {
    val rows = merges
      .select(col(rankCol).cast("long").as("rank"),
        col(leftCol).cast("string").as("a"),
        col(rightCol).cast("string").as("b"))
      .orderBy(col("rank")).limit(maxMerges + 1).collect()
    require(rows.length <= maxMerges,
      s"bpeMergesFrom: source exceeds the $maxMerges-merge cap; " +
        "raise maxMerges explicitly (the table is driver-collected " +
        "and shipped to executors as one codegen reference object)")
    // a null rank/operand THROWS rather than dropping the row — a
    // silently shortened merge table would silently change every
    // piece count (the same contract as the over-cap require above);
    // duplicate ranks make rule order nondeterministic, equally fatal
    rows.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"bpeMergesFrom: row $i has a NULL rank or operand — a " +
          "partial merge table would silently change every piece count")
    }
    require(rows.map(_.getLong(0)).distinct.length == rows.length,
      "bpeMergesFrom: duplicate rank values — rule order would be " +
        "nondeterministic")
    val out = Seq.newBuilder[(String, String)]
    val produced = scala.collection.mutable.Set[String]()
    rows.zipWithIndex.foreach { case (r, i) =>
      val (a, b) = (r.getString(1), r.getString(2))
      def okOperand(x: String): Boolean =
        x.length == 1 || produced.contains(x)
      require(a.nonEmpty && b.nonEmpty &&
          !(a + b).exists(c => c == '<' || c == '>' || c.isWhitespace),
        s"bpeMergesFrom: rank $i rule ('$a','$b') has an empty operand " +
          "or a reserved character (<, >, whitespace)")
      require(okOperand(a) && okOperand(b),
        s"bpeMergesFrom: rank $i rule ('$a','$b') references a symbol " +
          "no earlier rule produced — the table is not a valid " +
          "incremental BPE merge list")
      require(!produced.contains(a + b),
        s"bpeMergesFrom: rank $i rule ('$a','$b') re-produces symbol " +
          s"'${a + b}', already the output of an earlier rule — a " +
          "standard BPE trainer mints one NEW symbol per merge, and " +
          "duplicate outputs break chain/min-rank-loop equivalence")
      produced += a + b
      out += a -> b
    }
    out.result()
  }

  /** [[bpeMergesFrom]] over the on-disk `merges.txt` form (one
    * space-separated pair per line, rank = line order; `#`-prefixed
    * header lines skipped — the GPT-2/RoBERTa file layout). Model
    * config loads DRIVER-side through the Hadoop filesystem (the path
    * may be on the cluster store); data never flows through this.
    */
  def bpeMergesFromFile(spark: SparkSession, path: String,
                        maxMerges: Int = 50000): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .take(maxMerges + 1).toVector
      finally in.close()
    require(lines.length <= maxMerges,
      s"bpeMergesFromFile: $path exceeds the $maxMerges-merge cap; " +
        "raise maxMerges explicitly")
    import spark.implicits._
    bpeMergesFrom(
      lines.zipWithIndex.map { case (l, i) =>
        val parts = l.trim.split(" ")
        require(parts.length == 2,
          s"bpeMergesFromFile: line ${i + 1} is not 'left right': $l")
        (i.toLong, parts(0), parts(1))
      }.toDF("rank", "a", "b"),
      "a", "b", "rank", maxMerges)
  }

  /** Distinct whitespace tokens. */
  def distinctTokenCount(text: Column): Column =
    size(array_distinct(array_remove(split(text, "\\s+"), "")))

  /** English-ish stopwords used by the quality heuristic. Kept tiny and
    * public so the DuckDB oracle can mirror it exactly.
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private def stopwordRegex: String = s"\\b(${stopwords.mkString("|")})\\b"

  /** Stopword hits (non-overlapping regex count, identical semantics in
    * Java regex and RE2).
    */
  def stopwordCount(text: Column): Column =
    regexp_count(lower(text), lit(stopwordRegex))

  /** Document quality score in [0,1]:
    * 0.4·min(1, tokens/100) + 0.3·min(1, 5·stopwords/tokens)
    * + 0.3·(distinct/tokens). Length, naturalness, repetition — the
    * same three signals the reference's validator family gates on.
    */
  def qualityScore(text: Column): Column = {
    val toks = wsTokenCount(text).cast("double")
    val stop = stopwordCount(text).cast("double")
    val dist = distinctTokenCount(text).cast("double")
    when(toks > 0,
      least(lit(1.0), toks / 100.0) * 0.4 +
      least(lit(1.0), stop * 5.0 / toks) * 0.3 +
      (dist / toks) * 0.3
    ).otherwise(lit(0.0))
  }

  /** Language-ID stopword profiles (lang → regex of marker words).
    * Deterministic n-gram/stopword heuristic; argmax with alphabetical
    * tiebreak, "und" when every profile scores zero.
    */
  val langProfiles: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "en" -> "\\b(the|a|of|and|is|to)\\b",
    "es" -> "\\b(el|la|los|las|es|y)\\b",
    "fr" -> "\\b(le|la|les|et|est|une)\\b"
  )

  /** Detected language code: argmax of profile hit-counts, first
    * (alphabetical) profile wins ties, "und" if all zero.
    */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (lang, re) =>
      lang -> regexp_count(lower(text), lit(re))
    }
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight keeps the FIRST matching profile (alphabetical) on ties
    pick
  }

  /** Normalized-content fingerprint: md5 of whitespace-collapsed,
    * lowercased text — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Built-in Vietnamese compound-word lexicon for [[viSegment]] —
    * common 2-3-syllable lexical words (a small, public list; real
    * deployments pass their full dictionary). G3's `ViTokenizer` step
    * (chunk_splitter.py:14-24) counts tokens on exactly such segmented
    * words, not raw syllables.
    */
  val viLexicon: Seq[String] = Seq(
    "việt nam", "hà nội", "học sinh", "sinh viên", "giáo viên",
    "giáo dục", "đại học", "trường học", "công ty", "công việc",
    "công nghệ", "thông tin", "thời gian", "gia đình", "xã hội",
    "kinh tế", "chính phủ", "văn hóa", "lịch sử", "khoa học",
    "nghiên cứu", "phát triển", "xây dựng", "thị trường", "ngân hàng",
    "tài chính", "sức khỏe", "bệnh viện", "bác sĩ", "âm nhạc",
    "nghệ thuật", "thể thao", "bóng đá", "du lịch", "máy tính",
    "điện thoại", "quốc gia", "quốc tế", "thế giới", "môi trường",
    "nông nghiệp", "giao thông", "an toàn", "an ninh", "pháp luật",
    "báo chí", "truyền hình", "tiếng việt", "ngôn ngữ", "thư viện",
    "nhà nước", "nhà máy", "thành phố", "nông thôn", "kết quả",
    "nguyên nhân", "vấn đề", "giải pháp", "ý kiến", "quyết định",
    "kế hoạch", "dự án", "chương trình", "hoạt động", "tổ chức",
    "thành viên", "chủ tịch", "thủ tướng", "hội nghị", "chiến tranh",
    "hòa bình", "hạnh phúc", "tình yêu", "bạn bè", "trẻ em",
    "phụ nữ", "thanh niên", "ngày mai", "hôm nay", "bây giờ",
    "tương lai", "hiện tại",
    "sách giáo khoa", "hợp tác xã", "vô tuyến điện")

  /** Load a segmentation lexicon from a table column — real Vietnamese
    * deployments carry 30k+ compound entries (the vnTokenizer
    * dictionaries), far beyond [[viLexicon]]'s built-in list. Entries
    * are collected to the driver (BOUNDED: `maxEntries` caps the
    * collect; the default 200k two-to-four-syllable entries is a few
    * MB). The loaded lexicon then rides to executors as ONE codegen
    * reference object per plan — broadcast-scale state, never a
    * shuffle participant — so the cap IS the operator's memory
    * contract. A source larger than the cap throws rather than
    * silently truncating (a partial dictionary would silently change
    * segmentations).
    */
  def viLexiconFrom(lexicon: DataFrame, entryCol: String,
                    maxEntries: Int = 200000): Seq[String] = {
    val rows = lexicon.select(col(entryCol).cast("string").as("entry"))
      .na.drop().distinct().limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"viLexiconFrom: source exceeds the $maxEntries-entry cap; " +
        "raise maxEntries explicitly (the lexicon is driver-collected " +
        "and shipped to executors as one reference object)")
    rows.map(_.getString(0)).toSeq
  }

  /** [[viLexiconFrom]] over a plain text file (one entry per line) —
    * the usual on-disk form of the public vnTokenizer dictionaries.
    */
  def viLexiconFromFile(spark: SparkSession, path: String,
                        maxEntries: Int = 200000): Seq[String] =
    viLexiconFrom(spark.read.text(path), "value", maxEntries)

  /** Vietnamese word segmentation by greedy maximal matching (the
    * vnTokenizer-baseline algorithm) against `lexicon` — native
    * codegen'd expression, scan-side. Output: array of words,
    * multi-syllable matches joined with '_' ("học_sinh").
    */
  def viSegment(text: Column,
                lexicon: Seq[String] = viLexicon): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.ViSegment(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        lexicon.toArray))

  /** Token count on SEGMENTED Vietnamese words — what the reference's
    * chunker budgets against (raw syllable counts over-count by the
    * compound fraction).
    */
  def viTokenCount(text: Column, lexicon: Seq[String] = viLexicon): Column =
    size(viSegment(text, lexicon))

  // ------------------------------------------------------------------
  // BPE TRAINING — the missing half of the tokenizer stack. Everything
  // above APPLIES a merge table; real pipelines also LEARN one from
  // their own corpus (Sennrich, Haddow & Birch, ACL 2016 — the
  // algorithm behind the GPT-2/RoBERTa merges.txt files that
  // bpeMergesFromFile loads). At 100 TB the shape matters: the corpus
  // is touched ONCE (the word-frequency aggregation); every training
  // iteration after that runs on the vocabulary-sized (word, freq)
  // frame — millions of rows, not petabytes — with one pair-count
  // shuffle per merge and a single-ROW argmax to the driver (the
  // learned rule is model state, same bounded-collect contract as
  // bpeMergesFrom's table load).
  // ------------------------------------------------------------------

  /** Learn `numMerges` BPE merge rules from a (word, freq) table.
    *
    * Classic greedy trainer, exactly replayable: words are lowercased
    * and stripped to [a-z] (the [[bpePieceCount]] alphabet; words
    * shorter than 2 letters drop — they can never host a pair), then
    * held as `<x>` marker strings. Per iteration: count ADJACENT
    * symbol pairs weighted by word frequency (overlapping occurrences
    * all count — "aaa" contributes (a,a) twice, the standard trainer's
    * convention), pick the most frequent pair with ties broken by
    * (left ASC, right ASC), and apply it everywhere as ONE literal
    * `replace('<a><b>' → '<ab>')` — leftmost non-overlapping, exactly
    * the greedy merge pass [[bpePieceCount]] replays at apply time.
    * Training stops early when the best pair's count falls below
    * `minPairFreq` (a rule seen once is noise, not vocabulary).
    *
    * Returns (`merge_rank`, `lhs`, `rhs`, `pair_count`) with ranks
    * 0..k-1 — directly loadable by [[bpeMergesFrom]]: each learned
    * rule's operands are single letters or earlier outputs and each
    * output symbol is new (one fresh vocab symbol per merge, the
    * property that makes the apply-time chain ≡ the min-rank loop).
    *
    * Scale shape: `words` stays distributed (vocabulary-sized); each
    * iteration is one explode + pair-count shuffle and a TakeOrdered
    * argmax (ONE row to the driver — bounded model state, never data).
    * Lineage is cut per iteration through [[Materialize.iterCut]], so
    * under `spark.graft.materialize=resilient` a lost executor
    * mid-training recovers instead of killing the run.
    */
  def bpeTrain(words: DataFrame, wordCol: String, freqCol: String,
               numMerges: Int, minPairFreq: Long = 2L): DataFrame = {
    require(numMerges >= 1 && numMerges <= 50000,
      "bpeTrain: numMerges must be in [1, 50000]")
    trainLoop(markerVocab(words, wordCol, freqCol), 0L, numMerges,
      minPairFreq, words.sparkSession)
  }

  /** Warm-start BPE training — [[bpeTrain]]'s incremental form, the
    * [[Graph.pageRankResume]] pattern for model maintenance: after a
    * corpus delta, extend an EXISTING merge table by `extraMerges`
    * rules instead of retraining from scratch. `prior` (a loaded,
    * validated table — [[bpeMergesFrom]]'s output shape) is applied
    * to the fresh word-frequency vocab in ONE executor-side pass
    * (the rank-ascending replace fold, exact for every table the
    * loader admits; the table rides in the closure like all model
    * state — broadcast-scale, never shuffled), then the greedy loop
    * continues with ranks starting at `prior.length`. Returns ONLY
    * the new rules; by construction
    * `bpeTrain(n+k) == bpeTrain(n) ++ bpeTrainResume(prior=first n, k)`
    * on an unchanged corpus (BpeTrainSpec pins it; q173's oracle
    * proves it cross-engine against the full unrolled training).
    */
  def bpeTrainResume(words: DataFrame, wordCol: String, freqCol: String,
                     prior: Seq[(String, String)], extraMerges: Int,
                     minPairFreq: Long = 2L): DataFrame = {
    require(extraMerges >= 1 && extraMerges <= 50000,
      "bpeTrainResume: extraMerges must be in [1, 50000]")
    val s = words.sparkSession
    import s.implicits._
    val pr = prior.toArray
    val applied = markerVocab(words, wordCol, freqCol)
      .as[(String, Long)]
      .mapPartitions { it =>
        it.map { case (w, f) =>
          var m = w
          var i = 0
          while (i < pr.length) {
            m = m.replace(s"<${pr(i)._1}><${pr(i)._2}>",
              s"<${pr(i)._1}${pr(i)._2}>")
            i += 1
          }
          (m, f)
        }
      }.toDF("w", "f")
    trainLoop(applied, prior.length.toLong, extraMerges, minPairFreq, s)
  }

  /** Lowercased, letters-only, `<x>`-marker (word, freq) vocabulary —
    * the ONE corpus-sized aggregation both trainers start from.
    */
  private def markerVocab(words: DataFrame, wordCol: String,
                          freqCol: String): DataFrame =
    words
      .select(regexp_replace(lower(col(wordCol)), "[^a-z]", "").as("w"),
        col(freqCol).cast("long").as("f"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(sum(col("f")).as("f"))
      .select(regexp_replace(col("w"), "([a-z])", "<$1>").as("w"),
        col("f"))

  private def trainLoop(init: DataFrame, startRank: Long,
                        numMerges: Int, minPairFreq: Long,
                        s: SparkSession): DataFrame = {
    import s.implicits._
    var vocab = Materialize.iterCut(init)

    val learned = Seq.newBuilder[(Long, String, String, Long)]
    var rank = startRank
    var stop = false
    while (rank < startRank + numMerges && !stop) {
      val sy = split(regexp_replace(col("w"), "^<|>$", ""), "><")
      val best = vocab
        .select(col("f"), sy.as("sy"))
        // adjacent pairs: zip the symbol array with itself shifted by
        // one; zip_with pads the shorter side with null, so the tail
        // struct filters out. All codegen'd array functions — the pair
        // explosion never leaves the scan stage.
        .select(col("f"), explode(zip_with(col("sy"),
          slice(col("sy"), lit(2), greatest(size(col("sy")), lit(1))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairFreq) stop = true
      else {
        val a: String = best(0).getString(0)
        val b: String = best(0).getString(1)
        val c: Long = best(0).getLong(2)
        learned += ((rank, a, b, c))
        val next = vocab.select(
          org.apache.spark.sql.functions.replace(col("w"),
            lit(s"<$a><$b>"), lit(s"<$a$b>")).as("w"), col("f"))
        val cut = Materialize.iterCut(next)
        vocab.unpersist()
        vocab = cut
        rank += 1L
      }
    }
    vocab.unpersist()
    learned.result()
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** [[bpeTrain]] straight from a document column: ONE corpus-sized
    * word-count shuffle (lowercase, non-letters to spaces, explode,
    * count), then vocabulary-sized training. The end-to-end "train a
    * tokenizer on your own 100 TB corpus" entry point; compose with
    * [[bpeMergesFrom]] + [[bpePieceCountLoop]] to tokenize with what
    * was learned.
    */
  def bpeTrainFromText(docs: DataFrame, textCol: String,
                       numMerges: Int, minPairFreq: Long = 2L): DataFrame =
    bpeTrain(wordCounts(docs, textCol), "w", "f", numMerges, minPairFreq)

  /** [[bpeTrainResume]] straight from a document column. */
  def bpeTrainResumeFromText(docs: DataFrame, textCol: String,
                             prior: Seq[(String, String)],
                             extraMerges: Int,
                             minPairFreq: Long = 2L): DataFrame =
    bpeTrainResume(wordCounts(docs, textCol), "w", "f", prior,
      extraMerges, minPairFreq)

  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(
        regexp_replace(lower(col(textCol)), "[^a-z]+", " "), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** Collocation mining by POINTWISE-MUTUAL-INFORMATION lift —
    * corpus phrase discovery ("new york", "machine learning") for
    * tokenizer vocab seeding and boilerplate fingerprinting. Adjacent
    * lowercase-word bigrams are counted corpus-wide, joined to their
    * unigram counts, and scored
    * `lift = n_ab · N / (n_a · n_b)` — the PMI's argument, kept as a
    * RATIO instead of its log so both engines compute pure IEEE
    * *,/ over integer counts (log is not correctly-rounded-
    * guaranteed; the ordering is identical under the monotone map).
    * `minPairCount` drops the noise tail before the joins.
    *
    * Scale shape: one corpus-sized explode feeding two grouped
    * counts; the unigram joins are vocabulary-keyed; N rides as a
    * broadcast one-row aggregate.
    */
  def collocations(docs: DataFrame, textCol: String,
                   minPairCount: Long = 5L): DataFrame = {
    val words = docs.select(filter(
      split(regexp_replace(lower(col(textCol)), "[^a-z]+", " "), " "),
      w => length(w) >= 1).as("ws"))
    val uni = words.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum(col("n")).as("nn"))
    val pairs = words
      .select(explode(zip_with(col("ws"),
        slice(col("ws"), lit(2), greatest(size(col("ws")), lit(1))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .filter(col("p.b").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(uni.select(col("w").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        (floor((col("n_ab").cast("double") * col("nn")) /
          (col("n_a").cast("double") * col("n_b")) * 1000000.0 + 0.5)
          / 1000000.0).as("lift"))
  }
}
