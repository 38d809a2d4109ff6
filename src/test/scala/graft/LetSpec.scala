package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, ArrayTransform, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.Vectors.bound

/** The guards of `RewriteBoundLambda` (expressions/Let.scala): where a
  * `Vectors.bound` value is hoisted into a `__graft_let_N` projection
  * and where it is deliberately left as an interpreted `transform`.
  * Every case checks the values against the unhoisted formulation and
  * the optimized plan's shape. Inputs are `spark.range` so no
  * local-relation folding runs the projection at plan time.
  */
class LetSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def id = col("id")

  private def lets(p: LogicalPlan): Seq[Alias] =
    p.flatMap(_.expressions.flatMap(_.collect {
      case a: Alias if a.name.startsWith("__graft_let_") => a
    }))

  private def hasTransform(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayTransform])))

  private def sameRows(df: DataFrame, expected: DataFrame): Unit =
    assert(df.collect().toSeq == expected.collect().toSeq)

  /** Hoisted: a let alias, no `transform` in the optimized plan, and
    * none inside any whole-stage-codegen subtree.
    */
  private def assertHoisted(df: DataFrame): LogicalPlan = {
    val p = df.queryExecution.optimizedPlan
    assert(lets(p).nonEmpty, s"expected a __graft_let_ alias in:\n$p")
    assert(!hasTransform(p), s"transform left in:\n$p")
    val exec = df.queryExecution.executedPlan
    val wsc = exec.collect { case w: WholeStageCodegenExec => w }
    assert(wsc.nonEmpty, s"expected whole-stage codegen in:\n$exec")
    assert(!wsc.exists(_.toString.contains("transform(")),
      s"transform( inside whole-stage codegen:\n$exec")
    p
  }

  /** Left alone: the `transform` survives and nothing is hoisted. */
  private def assertNotHoisted(df: DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan
    assert(lets(p).isEmpty, s"unexpected hoist in:\n$p")
    assert(hasTransform(p), s"expected the bound transform in:\n$p")
  }

  test("a bound value under Project is hoisted to a __graft_let_ " +
    "projection below it") {
    val df = spark.range(6).select(bound(id * 3)(v => v + v * v).as("r"))
    sameRows(df, spark.range(6).select((id * 3 + id * 3 * (id * 3)).as("r")))
    val p = assertHoisted(df)
    assert(p.collect { case pr: Project => lets(pr) }.flatten.nonEmpty)
  }

  test("a bound value under Generate is hoisted into a projection " +
    "below the Generate") {
    val df = spark.range(5)
      .select(explode(bound(id + 1)(v => array(v, v * v))).as("e"))
    sameRows(df,
      spark.range(5).select(explode(array(id + 1, (id + 1) * (id + 1))).as("e")))
    val p = assertHoisted(df)
    val gens = p.collect { case g: Generate => g }
    assert(gens.size == 1, s"expected one Generate in:\n$p")
    assert(gens.head.generator.references.exists(
      _.name.startsWith("__graft_let_")),
      s"the generator does not read the let alias:\n$p")
    assert(lets(gens.head.child).nonEmpty,
      s"expected the let projection under the Generate:\n$p")
  }

  test("a bound value under CaseWhen, If or Coalesce is not hoisted") {
    def b: Column = bound(id * 3)(v => v + v)
    val inline = id * 3 + id * 3
    val evenOrNull = when(id % 2 === 0, id)
    Seq(
      when(id > 2, b).otherwise(lit(0L)) ->
        when(id > 2, inline).otherwise(lit(0L)),
      call_function("if", id > 2, b, lit(0L)) ->
        call_function("if", id > 2, inline, lit(0L)),
      coalesce(evenOrNull, b) -> coalesce(evenOrNull, inline)
    ).foreach { case (guarded, expected) =>
      val df = spark.range(6).select(guarded.as("r"))
      sameRows(df, spark.range(6).select(expected.as("r")))
      assertNotHoisted(df)
    }
  }

  test("non-deterministic, aggregate and lambda-variable values are " +
    "not hoisted") {
    // rand: the let still evaluates once per row — the bound doubles
    // the same draw a twin rand(7) makes
    val r = spark.range(8)
      .select(rand(7).as("a"), bound(rand(7))(v => v + v).as("b"))
    r.collect().foreach(row =>
      assert(row.getDouble(1) == row.getDouble(0) + row.getDouble(0)))
    assertNotHoisted(r)

    val agg = spark.range(6).agg(bound(sum(id))(v => v + v).as("r"))
    sameRows(agg, spark.range(6).agg((sum(id) + sum(id)).as("r")))
    assertNotHoisted(agg)

    val lam = spark.range(4).select(
      transform(array(id, id + 1), x => bound(x * 2)(v => v + v)).as("r"))
    sameRows(lam, spark.range(4).select(
      transform(array(id, id + 1), x => x * 2 + x * 2).as("r")))
    assertNotHoisted(lam)
  }

  test("nested bounds layer: the inner let's value reads the outer " +
    "let's alias") {
    val df = spark.range(6).select(
      bound(id + 1)(a => bound(a * 2)(b => b + b + a)).as("r"))
    sameRows(df, spark.range(6).select(
      ((id + 1) * 2 + (id + 1) * 2 + (id + 1)).as("r")))
    val p = assertHoisted(df)
    val byName = lets(p).map(a => a.name -> a).toMap
    assert(byName.keySet == Set("__graft_let_0", "__graft_let_1"), p)
    assert(byName("__graft_let_1").child.exists {
      case ar: AttributeReference => ar.name == "__graft_let_0"
      case _ => false
    }, s"the inner value does not read the outer alias:\n$p")
  }
}
