package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.{SparkSpec, Tables}

/** The payload boundary's contract: `census` is a one-row-per-row map
  * keyed by a bigint id, named as asked and free of shuffles; `synth`
  * yields `(doc_id bigint, payload binary)` in the ids' own order.
  */
class PayloadsSpec extends SparkSpec {

  /** 40 rows over 4 partitions: an int id after a binary payload of
    * `id % 5` bytes, and a column the census must ignore.
    */
  private def blobs: DataFrame =
    spark.range(0, 40, 1, 4).select(
      expr("CAST(repeat('x', CAST(id % 5 AS INT)) AS BINARY)").as("blob"),
      col("id").cast("int").as("key"),
      lit("ignored").as("note"))

  private def lengths(df: DataFrame) =
    Payloads.census(df, "key", "blob", "n_bytes", "first") { (id, bytes) =>
      (id, bytes.length.toLong, if (bytes.isEmpty) null: String else bytes.take(1).map(_.toChar).mkString)
    }

  test("census casts an int id to bigint and puts it first") {
    assert(blobs.schema("key").dataType != LongType)
    val out = lengths(blobs)
    assert(out.schema.head.name == "key" && out.schema.head.dataType == LongType)
  }

  test("census emits one row per input row under the given names") {
    val out = lengths(blobs)
    assert(out.columns.toSeq == Seq("key", "n_bytes", "first"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val want = (0L until 40L).map(i => (i, i % 5, if (i % 5 == 0) null else "x"))
    assert(got == want)
  }

  test("census runs map-only: no exchange in the executed plan") {
    val out = lengths(blobs)
    out.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(out.queryExecution.executedPlan)
    assert(plan.collect { case e: Exchange => e }.isEmpty, out.queryExecution.executedPlan)
    assert(out.rdd.getNumPartitions == blobs.rdd.getNumPartitions)
  }

  test("synth over docIds yields (doc_id bigint, payload binary) in id order") {
    val ids = Tables.docIds(spark, "/root/testdata/sf0.001")
    val out = Payloads.synth(ids)(id => java.nio.ByteBuffer.allocate(8).putLong(id * 3).array)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Seq(("doc_id", LongType), ("payload", BinaryType)))
    val rows = out.collect().toSeq
    assert(rows.map(_.getLong(0)) == ids.collect().toSeq)
    assert(rows.nonEmpty && rows.forall(r =>
      java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](1)).getLong == r.getLong(0) * 3))
  }
}
