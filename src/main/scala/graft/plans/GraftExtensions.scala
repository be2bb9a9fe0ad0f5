package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so a SQL-only user gets the fused
  * codegen kernels (`graft_cosine_sim`, `graft_l2_sq`) without touching the
  * Scala API. Deployment shape is the standard one for Catalyst-extending
  * libraries: `--conf spark.sql.extensions=graft.plans.GraftExtensions` (the
  * engine's own mains set it on their builders; ExtensionsSpec drives the
  * SQL surface end to end).
  *
  * Only `injectFunction` is used deliberately: the engine needs no custom
  * optimizer `Rule` or `SparkStrategy` (SURVEY §4 — every operator's plan is
  * already the one Catalyst picks), so injecting no-op rules would be
  * padding, not capability.
  *
  * The hook also sets up Spark's compiled-class cache, because it is the one
  * place every graft session passes through before its first query. That
  * cache is a JVM-wide LRU keyed by the generated source, whose size
  * (`spark.sql.codegen.cache.maxEntries`, default 100) is a static conf read
  * once, when codegen is first used. One pass of the time-series pipeline
  * alone generates ~130 distinct classes, and a cyclic working set larger
  * than an LRU misses on every access: each repeat of a query recompiled its
  * classes in Janino. Whole-stage classes are also named after their codegen
  * stage id, which adaptive execution assigns in the order stages happen to
  * complete, so the same stage could get a new name, hence a new source, on
  * a repeat; `spark.sql.codegen.useIdInClassName=false` drops the id from the
  * name. `setIfMissing` keeps a value the user set explicitly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    Bridge.activeContextConf.foreach(conf => GraftExtensions.codegenConfs.foreach {
      case (k, v) => conf.setIfMissing(k, v)
    })
  }
}

object GraftExtensions {
  /** ≥4× the largest measured per-pass working set (~240 classes for the
    * time-series pipeline plus the corpus-pair queries), leaving room for
    * the cache's per-segment LRU. */
  val CodegenCacheEntries = 1000

  /** Set on the SparkContext's conf unless present; see the class doc. */
  private val codegenConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Name → (info, builder) for every SQL-exposed native expression. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getCanonicalName, null,
        "graft_cosine_sim",
        "graft_cosine_sim(a, b) - cosine similarity of two ARRAY<DOUBLE> vectors (fused single-pass codegen kernel)",
        ""),
      (args: Seq[Expression]) => CosineSimilarity(args.head, args(1))),
    (FunctionIdentifier("graft_l2_sq"),
      new ExpressionInfo(classOf[L2SqDistance].getCanonicalName, null,
        "graft_l2_sq",
        "graft_l2_sq(a, b) - squared L2 distance of two ARRAY<DOUBLE> vectors (fused single-pass codegen kernel)",
        ""),
      (args: Seq[Expression]) => L2SqDistance(args.head, args(1))),
  )

  /** Runtime fallback for a session built without the extensions conf
    * (idempotent): registers the same functions into the live registry.
    */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      Bridge.registerFunction(spark, ident, info, builder)
    }
}
