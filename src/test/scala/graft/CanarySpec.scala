package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Guards the round-6 failure mode: testdata `ts` encoding drift must
  * fail LOUDLY (Canary throws, run aborts) instead of silently warping
  * every epoch 1000x and red-flagging time-typed queries at the oracle.
  */
class CanarySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("canary passes on current driver testdata and reports the fingerprint") {
    val fp = Canary.check(spark, sf)
    assert(fp.rows("events") > 0 && fp.rows.size == Tables.names.size)
    assert(fp.tsMinYear >= 2020 && fp.tsMaxYear <= 2031)
  }

  test("a deliberately mis-decoded ts trips the canary") {
    val dir = Files.createTempDirectory("canary_bad").toString
    // copy every table, but write events with ts shrunk 1000x — exactly
    // what the round-6 div-1000 bug produced (micros treated as nanos)
    Tables.names.foreach { n =>
      val df = Tables.load(spark, sf, n)
      val out =
        if (n == "events")
          df.withColumn("ts", timestamp_micros((unix_micros(col("ts")) / 1000).cast("long")))
        else df
      out.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val e = intercept[IllegalStateException](Canary.check(spark, dir))
    assert(e.getMessage.contains("events.ts decodes to years"))
  }

  test("an empty table trips the canary") {
    val dir = Files.createTempDirectory("canary_empty").toString
    Tables.names.foreach { n =>
      val df = Tables.load(spark, sf, n)
      val out = if (n == "nation") df.limit(0) else df
      out.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val e = intercept[IllegalStateException](Canary.check(spark, dir))
    assert(e.getMessage.contains("empty table"))
  }

  test("footer sniff decodes legacy unannotated INT64-nanos events identically") {
    val dir = Files.createTempDirectory("canary_legacy").toString
    // regenerate the pre-round-7 encoding: raw epoch nanos as plain LongType
    // (Spark writes LongType as unannotated INT64 — no timestamp logical type)
    Tables.load(spark, sf, "events")
      .withColumn("ts", (unix_micros(col("ts")) * 1000L))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables.load(spark, dir, "events")
    assert(legacy.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val native = Tables.load(spark, sf, "events")
    // decoded values must be bit-identical to the native timestamp[us] read
    assert(legacy.select(sum(unix_micros(col("ts")))).head.getLong(0) ==
      native.select(sum(unix_micros(col("ts")))).head.getLong(0))
    assert(legacy.except(native).count() == 0 && native.except(legacy).count() == 0)
  }
}
