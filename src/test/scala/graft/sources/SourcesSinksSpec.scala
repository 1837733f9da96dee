package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SourcesSinksSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", DoubleType),
    StructField("s", StringType)))

  test("jsonRecords parses a REST-style record array with pinned schema") {
    val records = Seq("""{"id":1,"v":1.5,"s":"x"}""", """{"id":2,"v":null,"s":"y"}""")
    val df = Sources.jsonRecords(spark, records, schema)
    assertRowsEqual(rows(df.orderBy("id")),
      Seq(Seq(1, 1.5, "x"), Seq(2, null, "y")))
  }

  test("sink csv single-file writes exactly one part; parquet round-trips partitioned") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val df = Seq((1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "a")).toDF("id", "v", "s")
    Sinks.csv(df, s"$dir/csv", singleFile = true)
    val parts = new java.io.File(s"$dir/csv").listFiles.count(_.getName.endsWith(".csv"))
    assert(parts == 1)
    df.write.mode("overwrite").partitionBy("s").parquet(s"$dir/pq")
    val back = spark.read.parquet(s"$dir/pq")
    assert(back.count() == 3)
    // partition pruning: reading s=a touches only that directory
    val pruned = back.filter(col("s") === "a")
    assert(pruned.count() == 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(s"))
  }

  test("jsonlShards writes one ordered JSONL file per shard and round-trips") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val docs = (0L until 40L).map(i => (i, s"doc $i", i % 4)).toDF("doc_id", "text", "shard")
    Sinks.jsonlShards(docs, s"$dir/shards", "shard", numShards = 4,
      orderCol = Some("doc_id"))
    for (k <- 0 until 4) {
      val files = new java.io.File(s"$dir/shards/shard=$k").listFiles
        .filter(_.getName.endsWith(".json"))
      assert(files.length == 1, s"shard=$k has ${files.length} part files")
      // orderCol makes the byte layout reproducible: lines in doc_id order
      val ids = scala.io.Source.fromFile(files.head).getLines()
        .map(l => """"doc_id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).toSeq
      assert(ids == ids.sorted && ids.nonEmpty, s"shard=$k order: $ids")
    }
    val back = spark.read.json(s"$dir/shards")
    assert(back.count() == 40)
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == (0L until 40L))
  }

  test("upsertKeepFirst reproduces ON CONFLICT DO NOTHING under arrival order") {
    val df = Seq((1, "first", 10L), (1, "second", 20L), (2, "only", 5L))
      .toDF("id", "payload", "arrival")
    val out = Sinks.upsertKeepFirst(df, Seq("id"), col("arrival").asc).orderBy("id")
    assertRowsEqual(rows(out.select("id", "payload")),
      Seq(Seq(1, "first"), Seq(2, "only")))
    assert(out.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("shardManifest content hash is order- and partitioning-independent") {
    val df = (1L to 300L).map(i => (i % 5, s"payload-$i-${"x" * (i % 17).toInt}"))
      .toDF("shard", "payload")
    val base = graft.sources.Sinks.shardManifest(df, "shard", "payload")
      .orderBy("shard").collect().map(_.toSeq)
    // reversed input order, different partitioning: identical manifest
    val shuffled = df.orderBy(org.apache.spark.sql.functions.col("payload").desc)
      .repartition(13)
    val again = graft.sources.Sinks.shardManifest(shuffled, "shard", "payload")
      .orderBy("shard").collect().map(_.toSeq)
    assert(base.toSeq == again.toSeq)
    // a single altered row flips exactly its shard's hash
    val tampered = df.withColumn("payload",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("payload") === "payload-7-xxxxxxx",
        "payload-7-TAMPERED").otherwise(org.apache.spark.sql.functions.col("payload")))
    val tm = graft.sources.Sinks.shardManifest(tampered, "shard", "payload")
      .orderBy("shard").collect().map(_.toSeq)
    val diffs = base.zip(tm).count { case (a, b) => a != b }
    assert(diffs == 1, s"expected exactly one shard hash to change, got $diffs")
  }
}
