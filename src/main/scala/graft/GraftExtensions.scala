package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{ChunkText, CosineSimilarity, DotProduct, NfcNormalize}
import graft.functions.ColumnPlugins

/** SparkSessionExtensions registration: exposes the engine's native
  * codegen'd vector kernels as SQL functions (`graft_cosine`,
  * `graft_dot`) so `spark.sql` queries reach the same fast path the
  * DataFrame API uses. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    // table-generating: LATERAL VIEW graft_chunk(text[, size, overlap])
    def intLit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)
          if v > 0 => v
      case other => throw new IllegalArgumentException(
        s"graft_chunk $name must be a positive INT literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_chunk"),
      new ExpressionInfo(classOf[ChunkText].getName, "graft_chunk"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => ChunkText(c)
        case Seq(c, s, o) =>
          ChunkText(c, intLit(s, "size"), intLit(o, "overlap"))
        case other => throw new IllegalArgumentException(
          s"graft_chunk expects 1 or 3 arguments, got ${other.length}")
      }))
    // model-call seam from SQL: graft_call('<plugin>', args...) — the
    // name literal is resolved against ColumnPlugins at plan time, so
    // plugins registered after session start are reachable, and a
    // swapped-in real-model plugin transparently replaces the stand-in
    ext.injectFunction((
      new FunctionIdentifier("graft_call"),
      new ExpressionInfo(ColumnPlugins.getClass.getName, "graft_call"),
      (children: Seq[Expression]) => children match {
        case Literal(name: UTF8String, StringType) +: rest =>
          ColumnBridge.expression(
            ColumnPlugins(name.toString)(rest.map(ColumnBridge.column): _*))
        case other => throw new IllegalArgumentException(
          "graft_call expects a STRING literal plugin name first, got " +
            other.headOption.fold("no arguments")(_.toString))
      }))
  }
}
