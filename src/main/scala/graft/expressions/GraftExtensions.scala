package graft.expressions

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension registering graft's native expressions — enable with
  * `.config("spark.sql.extensions", "graft.expressions.GraftExtensions")`
  * (the public SparkSessionExtensions hook; no private APIs touched).
  * After that, `graft_dot` resolves in SQL and via
  * `functions.call_function("graft_dot", a, b)`.
  *
  * It is the one hook every graft session passes through, whether built
  * by `graft.Sessions` or by the user's own builder or spark-submit, so
  * it also sizes Spark's generated-class cache (see [[sizeCodegenCache]]).
  *
  * `graft_might_contain(bloomBinary, long)` exposes Spark's own
  * `BloomFilterMightContain` (the codegen'd predicate behind the
  * optimizer's runtime row-level filtering) as a callable function, so
  * operators can bloom-prune joins the `InjectRuntimeFilter` rule cannot
  * see across (multi-step graph walks, iterative algorithms) — see
  * `GraphOps.buildBloom`/`pruneWithBloom`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "graft_hilbert takes exactly 3 arguments (x, y, bits)")
        HilbertIndex(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_might_contain takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[GraftNormalize].getName, "graft_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_normalize takes exactly 2 arguments (str, form)")
        GraftNormalize(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[GraftShingles].getName, "graft_shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "graft_shingles takes exactly 3 arguments (text, n, distinct)")
        GraftShingles(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_md5long"),
      new ExpressionInfo(classOf[GraftMd5Long].getName, "graft_md5long"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1,
          "graft_md5long takes exactly 1 argument (str)")
        GraftMd5Long(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_md5prefix"),
      new ExpressionInfo(classOf[GraftMd5Prefix].getName, "graft_md5prefix"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_md5prefix takes exactly 2 arguments (str, hexChars)")
        GraftMd5Prefix(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashAgg].getName, "graft_minhash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_minhash takes exactly 2 arguments (hash64, k)")
        MinhashAgg(children.head, children(1))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_regs"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "graft_hll_regs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_hll_regs takes exactly 2 arguments (hash60, m)")
        HllSketchAgg(children.head, children(1))
          .toAggregateExpression()
      }))
  }
}

object GraftExtensions {

  /** Sizes Spark's generated-class cache at 1000 entries in `conf`,
    * unless the user set `spark.sql.codegen.cache.maxEntries` there. The
    * cache is JVM-wide and sized once, from this static conf, when
    * `CodeGenerator` first initialises. Spark's 100 entries are fewer
    * than one pass of the Tube run (~220 classes) or of the operator
    * suite (~205), so every warm pass recompiled them all. `apply` passes
    * the live driver conf (`SparkContext.getConf` hands out a copy):
    * `SparkSession.Builder.getOrCreate` applies extensions after the
    * SparkContext exists and before the session's `SQLConf` or any code
    * generation reads it. The first session of a JVM fixes the size. */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries", "1000")
}
