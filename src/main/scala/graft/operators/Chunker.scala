package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recursive character text chunker — the engine's G3 operator
  * (chunk_splitter.py:14-64: size 400, overlap 50, separators
  * `. ! ? \n\n`, keep separator, drop chunks ≤ 10 chars).
  *
  * Contract (SURVEY.md §2.12 #9 invariants, not byte-identical output):
  * every chunk ≤ `size` (unless a single unsplittable segment exceeds
  * it), consecutive chunks share up to `overlap` chars of tail/head —
  * reduced (possibly to zero) when carrying the full overlap would push
  * the next chunk past `size`, matching the reference splitter's merge
  * behavior — and no emitted chunk ≤ `minLen` chars.
  *
  * The DataFrame path ([[chunkDF]]) plans as the native
  * [[graft.expressions.ChunkText]] Generator — a `Generate` node like
  * explode, no encoder round-trip; the kernel itself is per-row pure
  * Scala, embarrassingly parallel, no shuffle. [[chunkDFTyped]] keeps
  * the typed-flatMap twin purely as the equivalence cross-check the
  * Generator is tested against (ChunkerSpec).
  */
object Chunker extends Serializable {

  val DefaultSeps: Seq[String] = Seq(". ", "! ", "? ", "\n\n", "\n", " ")

  /** Split `text` into segments at the highest-priority separator that
    * actually occurs, keeping the separator attached to the left piece.
    */
  private def segment(text: String, seps: Seq[String]): Seq[String] =
    seps.find(s => text.contains(s)) match {
      case None => Seq(text)
      case Some(sep) =>
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var rest = text
        var idx = rest.indexOf(sep)
        while (idx >= 0) {
          parts += rest.substring(0, idx + sep.length)
          rest = rest.substring(idx + sep.length)
          idx = rest.indexOf(sep)
        }
        if (rest.nonEmpty) parts += rest
        parts.toSeq
    }

  /** Pure chunking function: greedy packing of separator segments into
    * ≤ `size`-char chunks with an up-to-`overlap`-char carry-over
    * between consecutive chunks (clamped — possibly to zero — when the
    * next segment is near `size`, so chunks stay within `size`);
    * segments longer than `size` recurse on the next separator
    * (character-split as last resort).
    */
  def chunk(text: String, size: Int = 400, overlap: Int = 50,
            minLen: Int = 10, seps: Seq[String] = DefaultSeps): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty

    def explode(t: String, sepIdx: Int): Seq[String] =
      if (t.length <= size) Seq(t)
      else if (sepIdx >= seps.length) // unsplittable: hard character cut
        t.grouped(size).toSeq
      else segment(t, seps.drop(sepIdx)) match {
        case single if single.length <= 1 => explode(t, sepIdx + 1)
        case parts => parts.flatMap(p => explode(p, sepIdx + 1))
      }

    val segments = explode(text, 0)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
    val current = new StringBuilder
    for (seg <- segments) {
      if (current.nonEmpty && current.length + seg.length > size) {
        chunks += current.toString
        // carry the overlap tail only as far as the size budget allows:
        // tail + seg must stay <= size, so every emitted chunk does too
        val carry = math.min(overlap, size - seg.length)
        val tail = if (carry > 0) current.takeRight(carry).toString else ""
        current.clear()
        current ++= tail
      }
      current ++= seg
    }
    if (current.nonEmpty) chunks += current.toString
    chunks.map(_.trim).filter(_.length > minLen).toSeq
  }

  /** Token-limit second stage (chunk_splitter.py:52-62): any chunk whose
    * whitespace-token count exceeds `maxTokens` is re-split into pieces
    * of 0.75·maxTokens tokens with a `tokenOverlap`-token carry — the
    * reference's guard against char-sized chunks that blow the
    * embedding model's token budget (its HF token counts become a
    * whitespace proxy offline, SURVEY §2.9 G3).
    */
  def enforceTokenLimit(chunks: Seq[String], maxTokens: Int = 2048,
                        tokenOverlap: Int = 25): Seq[String] =
    chunks.flatMap { c =>
      val toks = c.split("\\s+").filter(_.nonEmpty)
      if (toks.length <= maxTokens) Seq(c)
      else {
        val width = math.max(1, (maxTokens * 3) / 4)
        tokenWindows(toks, width, tokenOverlap)
      }
    }

  /** Overlapping token windows with GUARANTEED coverage: admit a start
    * only while the previous window hasn't reached the end. When
    * width > overlap this is exactly the classic `start + overlap < n`
    * cut with its usual step; when width ≤ overlap (piece-dense text
    * can shrink [[enforceBpeTokenLimit]]'s scaled width below the
    * overlap) the requested overlap is unachievable — the classic cut
    * silently dropped the tail there, and a literal step of 1 would
    * emit ~n windows (a width-factor output blowup). Clamp the step to
    * width/2: coverage holds, duplication stays ≤ ~2×.
    */
  private def tokenWindows(toks: Array[String], width: Int,
                           tokenOverlap: Int): Seq[String] = {
    val step =
      if (width > tokenOverlap) width - tokenOverlap
      else math.max(1, width / 2)
    (0 until toks.length by step)
      .takeWhile(s => s == 0 || s - step + width < toks.length)
      .map(s => toks.slice(s, s + width).mkString(" "))
  }

  /** Token-limit enforcement BUDGETED IN BPE PIECES
    * ([[TextAnalysis.bpePieces]], the frozen-vocab merge table)
    * instead of whitespace tokens — the reference's actual budget is
    * its HF tokenizer's piece count (chunk_splitter.py:52-62), and a
    * whitespace proxy under-counts by the pieces-per-word ratio.
    * Over-budget chunks re-split on whitespace-token windows whose
    * width is scaled by the chunk's MEASURED pieces-per-token and
    * CLAMPED below the chunk's own token count (marginally-over-budget
    * text can scale the width all the way to `toks.length`, which
    * would pass the chunk through unsplit), then re-checked
    * recursively — each level strictly shrinks the window, so the
    * recursion terminates, and ONLY indivisible single-token chunks
    * pass through over budget.
    */
  def enforceBpeTokenLimit(chunks: Seq[String], maxTokens: Int = 2048,
                           tokenOverlap: Int = 25,
                           merges: Seq[(String, String)] =
                             TextAnalysis.bpeMerges): Seq[String] = {
    // compile the merge table ONCE per call, not once per chunk — a
    // loaded GPT-2-scale table is a 50k-entry hash map; the budget
    // counter itself is the min-rank loop (table-size-independent)
    val table = graft.expressions.BpePieceCount.compile(merges.toArray)
    def go(cs: Seq[String]): Seq[String] = cs.flatMap { c =>
      val pieces = graft.expressions.BpePieceCount.pieces(c, table)
      val toks = c.split("\\s+").filter(_.nonEmpty)
      if (pieces <= maxTokens) Seq(c)
      else if (toks.length <= 1) Seq(c)
      else {
        val width = math.max(1, math.min(toks.length - 1,
          ((maxTokens * 3L / 4) * toks.length / pieces).toInt))
        go(tokenWindows(toks, width, tokenOverlap))
      }
    }
    go(chunks)
  }

  /** DataFrame form via the native [[graft.expressions.ChunkText]]
    * Generator: (idCol, text) → (idCol, chunk_idx, chunk). Plans as a
    * `Generate` node (like explode) — no encoder round-trip.
    */
  def chunkDF(df: DataFrame, idCol: String, textCol: String,
              size: Int = 400, overlap: Int = 50): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol),
      ColumnBridge.column(graft.expressions.ChunkText(
        ColumnBridge.expression(col(textCol)), size, overlap))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** Typed flatMap form (the pre-Generator formulation, kept as the
    * cross-check twin the Generator is tested against).
    */
  def chunkDFTyped(df: DataFrame, idCol: String, textCol: String,
                   size: Int = 400, overlap: Int = 50): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sz = size; val ov = overlap
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        chunk(text, sz, ov).zipWithIndex.map { case (c, i) => (id, i, c) }
      }
      .toDF("id", "chunk_idx", "chunk")
      .withColumnRenamed("id", idCol)
  }
}
