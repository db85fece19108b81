package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions injector: registers the engine's native SQL
  * functions, optimizer rules and the `GRAFT` command parser. Activate
  * with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (done by `core.Sessions`), or register the functions at runtime via
  * [[GraftExtensions.register]] for an externally-built session. The
  * native join strategies are not injected here: `AsOf.joinBackwardNative`
  * and `RangeJoin.nativeJoin` install theirs where they build their node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(graft.plans.MvRewriteRule)
    // Order matters: the reorder rule matches hint-free joins, so it
    // must see the plan before NdvBroadcastRule decorates it — in one
    // fixed-point pass the swap happens first, then the hint lands on
    // the (possibly reordered) shape, and both rules are stable from
    // iteration two on.
    ext.injectOptimizerRule(graft.plans.NdvJoinOrderRule)
    ext.injectOptimizerRule(graft.plans.NdvBroadcastRule)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  /** The `graft_*` scalar and aggregate functions, for both routes. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    PolyHash.registration, DotProduct.registration,
    InterleaveBits.registration, HilbertIndex.registration,
    MinHashSig.registration, SimHashSig.registration,
    GramHashes.registration, WordShingles.registration,
    LshBucket.registration, AdcScore.registration,
    SlidingMin.registration,
    KmvSketch.registration, CmsSketch.registration,
    HllSketch.registration, JaroWinkler.registration)

  /** The `graft_*` table functions, for both routes. */
  val tableFunctions: Seq[SparkSessionExtensions#TableFunctionDescription] =
    Seq(DateSpine.registration)

  /** Post-hoc registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
    val treg = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (id, info, builder) => treg.registerFunction(id, info, builder) }
  }
}
