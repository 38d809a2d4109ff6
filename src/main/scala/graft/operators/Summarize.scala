package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Offline deterministic stand-ins for the reference's LLM stages:
  * extractive summarization (M1, summarize_utils.py:60-93) and
  * statement extraction → scorecard (G5+A5,
  * validation_utils.py:92-165). The *dataflow* — explode, rule-based
  * classify, grouped conditional aggregate with tiered clamp — is the
  * operator under test; the model call itself is a pluggable scalar.
  */
object Summarize {

  /** Words of a text (Unicode-aware split, empties dropped). */
  def words(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** M1 stand-in raw model output: boilerplate intro line + one bullet
    * ("• ") per extracted "sentence", the first `n` groups of `width`
    * words — the exact shape clean_summary (F6) is built to strip.
    * Deterministic and engine-reproducible.
    */
  def extractiveSummaryRaw(text: Column, n: Int = 4, width: Int = 2): Column = {
    // the split repeats n times with no lambda between the copies:
    // codegen's subexpression elimination evaluates it once, provided
    // no CodegenFallback (a HOF, say) takes this column as an argument
    val w = words(text)
    concat(lit("Here are the main points:\n"),
      concat_ws("\n", (0 until n).map(i =>
        concat(lit("• "), concat_ws(" ", slice(w, i * width + 1, width)))): _*))
  }

  /** G5 stand-in: split a [[words]] array into fixed-width word-group
    * "statements" — one element per statement, like the reference's
    * LLM-extracted statement list (validation_utils.py:92-117). `w` is
    * read inside the per-statement lambda: pass a column staged by a
    * `select`, or the text is re-split per statement (O(words²) per
    * doc).
    */
  def statements(w: Column, width: Int = 6): Column = {
    val n = ceil(size(w) / lit(width.toDouble)).cast("int")
    // guard n=0: Spark's sequence(0, -1) yields a DESCENDING [0, -1],
    // not an empty array — an empty text would emit phantom statements
    when(n > 0,
      transform(sequence(lit(0), n - 1), i =>
        concat_ws(" ", slice(w, i * width + 1, lit(width)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Rule-based statement status (deterministic classifier stand-in):
    * confirmed ≻ refuted ≻ unverified, first match wins.
    */
  def statementStatus(stmt: Column): Column =
    when(stmt.contains("window") || stmt.contains("stream"), "confirmed")
      .when(stmt.contains("dup"), "refuted")
      .otherwise("unverified")

  /** A5 scorecard over (id, status) statement rows: tiered short-circuit
    * on statement count, else ((confirmed − 0.5·refuted)/total)·10
    * clamped to [3, 10] (validation_utils.py:120-165).
    */
  def scorecard(stmts: DataFrame, idCol: String, statusCol: String): DataFrame = {
    val agg = stmts.groupBy(col(idCol)).agg(
      sum(when(col(statusCol) === "confirmed", 1).otherwise(0)).as("confirmed"),
      sum(when(col(statusCol) === "refuted", 1).otherwise(0)).as("refuted"),
      count(lit(1)).as("total"))
    agg.select(col(idCol), col("confirmed"), col("refuted"), col("total"),
      when(col("total") === 0, 0.0)
        .when(col("total") < 5, 1.0)
        .otherwise(round(
          greatest(lit(3.0), least(lit(10.0),
            (col("confirmed").cast("double") / col("total") -
              col("refuted").cast("double") * 0.5 / col("total")) * 10.0)), 4))
        .as("score"))
  }
}
