package graft.expressions

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
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

  /** The engine's SQL functions: name, expression class, argument
    * count, builder. The count is checked before the builder runs, so
    * a wrong count fails analysis with a message naming the function
    * and the count it takes — never an extra argument silently
    * dropped or a bare index error.
    */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Class[_], Int, Seq[Expression] => Expression)](
      ("graft_dot", classOf[FloatDot], 2, c => FloatDot(c(0), c(1))),
      ("graft_intersect_count", classOf[LongArrayIntersectCount], 2, c => LongArrayIntersectCount(c(0), c(1))),
      ("graft_cms_estimate", classOf[CmsEstimate], 2, c => CmsEstimate(c(0), c(1))),
      ("graft_shingle_hashes", classOf[ShingleHashes], 2, c => ShingleHashes(c(0), c(1))),
      ("graft_shingle_hash_list", classOf[ShingleHashList], 2, c => ShingleHashList(c(0), c(1))),
      ("graft_hash64", classOf[Hash64], 1, c => Hash64(c(0))),
      ("graft_tri_products", classOf[TriQuantProducts], 1, c => TriQuantProducts(c(0))),
      ("graft_nfc", classOf[NfcNormalize], 1, c => NfcNormalize(c(0))),
      ("graft_jaro_winkler", classOf[JaroWinkler], 2, c => JaroWinkler(c(0), c(1))),
      ("graft_minhash_bands", classOf[MinhashBands], 3, c => MinhashBands(c(0), c(1), c(2))),
      ("graft_gear_chunks", classOf[GearChunks], 2, c => GearChunks(c(0), c(1))),
      ("graft_multi_match", classOf[MultiMatch], 2, c => MultiMatch(c(0), c(1))),
      ("graft_simhash", classOf[Simhash], 2, c => Simhash(c(0), c(1))),
      ("graft_triples", classOf[ArrayTriples], 1, c => ArrayTriples(c(0))),
      ("graft_top_k_longs", classOf[TopKSmallestLongs], 2, c => TopKSmallestLongs(c(0), c(1))),
      ("graft_pairs_long", classOf[ArrayPairsLong], 1, c => ArrayPairsLong(c(0))),
      ("graft_pairs_str", classOf[ArrayPairsString], 1, c => ArrayPairsString(c(0))),
      ("graft_cross_long", classOf[CrossPairsLong], 2, c => CrossPairsLong(c(0), c(1))),
      ("graft_max_any", classOf[MaxAny], 1, c => MaxAny(c(0))),
      ("graft_min_any", classOf[MinAny], 1, c => MinAny(c(0)))).map { case (name, cls, arity, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          if (children.size != arity)
            throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
              "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
              "actualNum" -> children.size.toString,
              "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
          build(children)
        })
    }

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
