package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Catalyst extension point: installs the engine's native expressions
  * as SQL functions, the [[CartesianGuard]] and
  * [[graft.plans.ExpansionFanout]] optimizer rules and the
  * [[graft.plans.TopKStrategy]] planner strategy.
  *
  * One registration path: `spark.sql.extensions` names this class
  * (`GraftSession.create` sets it), so Spark applies it to the session
  * and to every `newSession()` of it. `GraftExtensions.register` exists
  * only for sessions built elsewhere, such as an external driver's; it
  * is called from the public entry points in `SparkEntry`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => CartesianGuard)
    ext.injectPreCBORule(graft.plans.ExpansionFanout(_))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "graft_dot"),
      (children: Seq[Expression]) => FloatDot(children.head, children(1))),
    (FunctionIdentifier("graft_intersect_count"),
      new ExpressionInfo(classOf[LongArrayIntersectCount].getName, "graft_intersect_count"),
      (children: Seq[Expression]) => LongArrayIntersectCount(children.head, children(1))),
    (FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      (children: Seq[Expression]) => CmsEstimate(children.head, children(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children.head, children(1),
        if (children.size > 2) children(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(31))),
    (FunctionIdentifier("graft_shingle_hash_list"),
      new ExpressionInfo(classOf[ShingleHashList].getName, "graft_shingle_hash_list"),
      (children: Seq[Expression]) => ShingleHashList(children.head, children(1))),
    (FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(classOf[Hash64].getName, "graft_hash64"),
      (children: Seq[Expression]) => Hash64(children.head)),
    (FunctionIdentifier("graft_tri_products"),
      new ExpressionInfo(classOf[TriQuantProducts].getName, "graft_tri_products"),
      (children: Seq[Expression]) => TriQuantProducts(children.head)),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)),
    (FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children.head, children(1))),
    (FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "graft_minhash_bands"),
      (children: Seq[Expression]) => MinhashBands(children.head, children(1), children(2))),
    (FunctionIdentifier("graft_gear_chunks"),
      new ExpressionInfo(classOf[GearChunks].getName, "graft_gear_chunks"),
      (children: Seq[Expression]) => GearChunks(children.head, children(1))),
    (FunctionIdentifier("graft_multi_match"),
      new ExpressionInfo(classOf[MultiMatch].getName, "graft_multi_match"),
      (children: Seq[Expression]) => MultiMatch(children.head, children(1))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[Simhash].getName, "graft_simhash"),
      (children: Seq[Expression]) => Simhash(children.head, children(1))),
    (FunctionIdentifier("graft_triples"),
      new ExpressionInfo(classOf[ArrayTriples].getName, "graft_triples"),
      (children: Seq[Expression]) => ArrayTriples(children.head)),
    (FunctionIdentifier("graft_top_k_longs"),
      new ExpressionInfo(classOf[TopKSmallestLongs].getName, "graft_top_k_longs"),
      (children: Seq[Expression]) => TopKSmallestLongs(children.head, children(1))),
    (FunctionIdentifier("graft_pairs_long"),
      new ExpressionInfo(classOf[ArrayPairsLong].getName, "graft_pairs_long"),
      (children: Seq[Expression]) => ArrayPairsLong(children.head)),
    (FunctionIdentifier("graft_pairs_str"),
      new ExpressionInfo(classOf[ArrayPairsString].getName, "graft_pairs_str"),
      (children: Seq[Expression]) => ArrayPairsString(children.head)),
    (FunctionIdentifier("graft_cross_long"),
      new ExpressionInfo(classOf[CrossPairsLong].getName, "graft_cross_long"),
      (children: Seq[Expression]) => CrossPairsLong(children.head, children(1))),
    (FunctionIdentifier("graft_max_any"),
      new ExpressionInfo(classOf[MaxAny].getName, "graft_max_any"),
      (children: Seq[Expression]) => MaxAny(children.head)),
    (FunctionIdentifier("graft_min_any"),
      new ExpressionInfo(classOf[MinAny].getName, "graft_min_any"),
      (children: Seq[Expression]) => MinAny(children.head)))

  /** Install the engine on a session built without
    * `spark.sql.extensions` (through the runtime `functionRegistry` and
    * `experimental` hooks, which `newSession()` does not carry). A no-op
    * on a session whose SparkContext conf names this class: Spark has
    * already applied it there.
    */
  def register(spark: SparkSession): Unit =
    if (!spark.sparkContext.getConf.get("spark.sql.extensions", "").split(",")
          .map(_.trim).contains(classOf[GraftExtensions].getName)) {
      functions.foreach { case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
      }
      val x = spark.experimental
      if (!x.extraOptimizations.contains(CartesianGuard))
        x.extraOptimizations = x.extraOptimizations :+ CartesianGuard
      if (!x.extraOptimizations.exists(_.isInstanceOf[graft.plans.ExpansionFanout]))
        x.extraOptimizations = x.extraOptimizations :+ graft.plans.ExpansionFanout(spark)
      if (!x.extraStrategies.contains(graft.plans.TopKStrategy))
        x.extraStrategies = x.extraStrategies :+ graft.plans.TopKStrategy
    }
}
