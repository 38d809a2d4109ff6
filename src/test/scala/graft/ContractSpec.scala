package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Oracle, Queries}

/** Driver-contract guards over `Queries.registry`: every view the
  * driver and the harnesses read is derived from it, and every entry
  * in the Verify contract ends up with an oracle.
  */
class ContractSpec extends AnyFunSuite {

  private val fitted = Queries.registry.filter(_.oracle match {
    case _: Oracle.Fitted[_] => true
    case _ => false
  })

  test("the registry derives the driver contract's views") {
    assert(Queries.all.size == 215)
    assert(Queries.benchOnly.size == 10)
    assert(Queries.all.keySet.intersect(Queries.benchOnly.keySet).isEmpty)
    assert(Queries.byName.size == Queries.registry.size)
    assert(Harness.entries.map(_._1) ==
      Queries.registry.map(_.name).sorted.filter(Harness.selected))
    assert(Queries.streamingQueries == Set("q93_stream_lifecycle",
      "q100_stream_tumbling", "q107_stream_join", "q108_sessionize",
      "q111_stream_refinery", "q132_stream_outer_join",
      "q133_stream_dedup", "q137_stream_full_outer",
      "q142_stream_right_outer"))
    assert(fitted.size == 5, fitted.map(_.name))
  }

  test("after running q76/q120, the fitted-model oracles exist and " +
    "EVERY query has an oracle (Verify dumps after running — same " +
    "order)") {
    fitted.foreach(_.plan(SharedSpark.spark, "/root/testdata/sf0.001")
      .count())
    val sql = Queries.oracleSql
    assert(sql.keySet == Queries.all.keySet,
      s"rows-only residue: ${Queries.all.keySet -- sql.keySet}")
    // each fitted entry renders its own SQL: q120 and q191 share a
    // model type, so only these tokens tell their oracles apart
    val tokens = Map(
      "q76_pq_ann" -> Seq("list_position", "embeddings"),
      "q120_semdedup_ivf" -> Seq("list_position", "list_min", "losers"),
      "q130_ann_staleness" -> Seq("quantile_disc", "list_min"),
      "q179_quality_lr" -> Seq("margin", "documents"),
      "q191_cluster_sample" -> Seq("list_position", "row_number"))
    assert(tokens.keySet == fitted.map(_.name).toSet)
    tokens.foreach { case (name, ts) =>
      assert(ts.forall(sql(name).contains), s"$name oracle lacks $ts")
    }
  }

  test("query names are well-formed and unique") {
    val names = Queries.registry.map(_.name)
    assert(names.forall(_.matches("q\\d+[a-z]?_[a-z0-9_]+")),
      names.filterNot(_.matches("q\\d+[a-z]?_[a-z0-9_]+")).toString)
    val nums = names.map(_.takeWhile(_ != '_')).toSet
    assert(nums.size == names.size, "duplicate query numbers")
  }

  test("oracle SQL references only the driver's table views or is " +
    "self-contained") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // smoke guard: every oracle must mention a known table, a VALUES
    // fixture, or a read of a checked-in fixture file (q35/q50)
    Queries.oracleSql.foreach { case (name, sql) =>
      val lower = sql.toLowerCase
      assert(tables.exists(lower.contains) || lower.contains("values") ||
          lower.contains("'/root/repo/fixtures/"),
        s"$name oracle references no known table")
    }
  }
}
