package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CassandraMurmur3TokenExpr, CassandraRandomTokenExpr,
  CdcBoundariesExpr, HyperplaneSketchExpr, JlProjectExpr, MinHashSigExpr,
  SimHash64Expr, VectorDotExpr, WinnowExpr, WordShinglesExpr}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get them
  * without touching the Scala API:
  *
  *   spark.sql("SELECT cassandra_murmur3_token(pk) FROM t")
  *   spark.sql("SELECT vector_dot(a.embedding, b.embedding) FROM ...")
  *
  * Every session built by [[GraftSession]] activates it (its `engine`
  * settings name this class in `spark.sql.extensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cassandra_murmur3_token"),
      new ExpressionInfo(classOf[CassandraMurmur3TokenExpr].getName, "cassandra_murmur3_token"),
      (children: Seq[Expression]) => CassandraMurmur3TokenExpr(children)))
    ext.injectFunction((
      FunctionIdentifier("cassandra_random_token"),
      new ExpressionInfo(classOf[CassandraRandomTokenExpr].getName, "cassandra_random_token"),
      (children: Seq[Expression]) => CassandraRandomTokenExpr(children)))
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDotExpr].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vector_dot(a, b) takes two arrays")
        VectorDotExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(tokens) takes one array<string>")
        SimHash64Expr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_signature(shingles, k) — k a literal int")
        MinHashSigExpr(children.head, litInt(children(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_shingles(words, n) — n a literal int")
        WordShinglesExpr(children.head, litInt(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "winnow_fingerprints(shingles, w) — w a literal int")
        WinnowExpr(children.head, litInt(children(1), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_boundaries"),
      new ExpressionInfo(classOf[CdcBoundariesExpr].getName, "cdc_boundaries"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "cdc_boundaries(shingles, m) — m a literal int")
        CdcBoundariesExpr(children.head, litInt(children(1), "m"))
      }))
    ext.injectFunction((
      FunctionIdentifier("jl_project"),
      new ExpressionInfo(classOf[JlProjectExpr].getName, "jl_project"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "jl_project(vec, outDims, dims) — outDims/dims literal ints")
        JlProjectExpr(children.head,
          litInt(children(1), "outDims"), litInt(children(2), "dims"))
      }))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_sketch"),
      new ExpressionInfo(classOf[HyperplaneSketchExpr].getName, "hyperplane_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "hyperplane_sketch(vec, bits, dims) — bits/dims literal ints")
        HyperplaneSketchExpr(children.head,
          litInt(children(1), "bits"), litInt(children(2), "dims"))
      }))
  }

  private def litInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal integer")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$name must be an int, got $other")
    }
  }
}
