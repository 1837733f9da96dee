package graft.operators

import graft.SparkSpec

/** ORC integer-column data decode, graded by the REAL orc-core writer
  * (Spark's own ORC output) across codecs and value shapes chosen to
  * exercise every RLEv2 sub-encoding, then the honest-decline classes
  * and the truncation contract.
  */
class OrcDataSpec extends SparkSpec {

  private def writeOrc(df: org.apache.spark.sql.DataFrame,
      options: Map[String, String]): Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    df.coalesce(1).write.mode("overwrite").options(options).orc(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".orc")).head
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  private def wantOf(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
    df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

  test("REAL Spark ORC decodes value-exact across codecs and RLEv2 shapes") {
    import org.apache.spark.sql.functions._
    val n = 30000L
    val shapes = Seq(
      // monotonic → DELTA runs
      "delta" -> spark.range(0L, n).select(col("id").cast("long").as("v")),
      // low-cardinality with nulls → PRESENT stream + short repeats
      "nulls" -> spark.range(0L, n)
        .select(when(col("id") % 7 === 0, lit(null))
          .otherwise(col("id") % 331).cast("long").as("v")),
      // jittery incl. negatives → DIRECT / PATCHED BASE
      "jitter" -> spark.range(0L, n)
        .select(((col("id") * 2654435761L) % 1000000 - 500000)
          .cast("long").as("v")),
      // mostly-small with rare huge outliers → PATCHED BASE
      "outlier" -> spark.range(0L, n)
        .select(when(col("id") % 997 === 0, col("id") * 1000000000L)
          .otherwise(col("id") % 50).cast("long").as("v")))
    for {
      codec <- Seq("none", "snappy", "zlib", "zstd")
      (name, df) <- shapes
    } {
      val bytes = writeOrc(df, Map("compression" -> codec))
      val d = OrcData.decodeIntFile(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"$codec/$name: $d")
      val want = wantOf(df)
      assert(d.nValues == want.count(_.isDefined) &&
        d.nNulls == want.count(_.isEmpty), s"$codec/$name: $d")
      assert(d.values.toSeq == want.flatten, s"$codec/$name: values diverge")
      assert(d.sum == want.flatten.sum, s"$codec/$name")
    }
  }

  test("INT and SHORT columns decode through the same RLEv2 path") {
    import org.apache.spark.sql.functions._
    val df32 = spark.range(0L, 5000L)
      .select((col("id") - 2500).cast("int").as("v"))
    val b32 = writeOrc(df32, Map("compression" -> "none"))
    val d32 = OrcData.decodeIntFile(b32, 0, keepValues = true)
    assert(d32.ok == 1 && d32.minV == -2500 && d32.maxV == 2499, d32.toString)
    val df16 = spark.range(0L, 2000L)
      .select((col("id") % 100 - 50).cast("short").as("v"))
    val d16 = OrcData.decodeIntFile(writeOrc(df16, Map("compression" -> "none")), 0)
    assert(d16.ok == 1 && d16.minV == -50 && d16.maxV == 49, d16.toString)
  }

  test("honest declines: lz4 codec, string column, dictionary-free contract") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0L, 1000L).select(col("id").as("v"))
    // lz4-compressed ORC: a valid file this decoder declines whole
    val lz4 = OrcData.decodeIntFile(writeOrc(df, Map("compression" -> "lz4")), 0)
    assert(lz4.ok == 0 && lz4.gated == 1, lz4.toString)
    // a string column is not an integer kind
    val sdf = spark.range(0L, 1000L)
      .select(concat(lit("s"), col("id")).as("v"))
    val sd = OrcData.decodeIntFile(writeOrc(sdf, Map("compression" -> "none")), 0)
    assert(sd.ok == 0 && sd.gated == 1, sd.toString)
  }

  test("truncation fails closed at every cut") {
    import org.apache.spark.sql.functions.col
    val bytes = writeOrc(
      spark.range(0L, 300L).select(col("id").as("v")),
      Map("compression" -> "none"))
    assert(OrcData.decodeIntFile(bytes, 0).ok == 1)
    for (cut <- 1 until bytes.length) {
      val d = OrcData.decodeIntFile(bytes.take(cut), 0)
      assert(d.ok == 0 && d.sum == 0, s"cut $cut: $d")
    }
  }

  test("REAL Spark ORC strings decode: dictionary and direct, with nulls, across codecs") {
    import org.apache.spark.sql.functions._
    val n = 20000L
    for (codec <- Seq("none", "snappy", "zstd")) {
      // low-cardinality + nulls → DICTIONARY_V2
      val dictDf = spark.range(0L, n)
        .select(when(col("id") % 7 === 0, lit(null))
          .otherwise(concat(lit("lang-"), (col("id") % 31).cast("string")))
          .as("v"))
      val db = writeOrc(dictDf, Map("compression" -> codec))
      val dd = OrcData.decodeStringFile(db, 0, keepValues = true)
      assert(dd.ok == 1 && dd.gated == 0, s"$codec dict: $dd")
      val dwant = dictDf.collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getString(0)))
      assert(dd.nValues == dwant.count(_.isDefined) &&
        dd.nNulls == dwant.count(_.isEmpty))
      assert(dd.values.map(new String(_, "UTF-8")).toSeq == dwant.flatten.toSeq,
        s"$codec dict values")
      assert(dd.nDictVals == 31, s"$codec: $dd")
      // all-distinct → DIRECT_V2 (length + data)
      val dirDf = spark.range(0L, n)
        .select(concat(lit("k"), format_string("%06d", col("id"))).as("v"))
      val bb = writeOrc(dirDf, Map("compression" -> codec))
      val bd = OrcData.decodeStringFile(bb, 0, keepValues = true)
      assert(bd.ok == 1 && bd.nDictVals == 0, s"$codec direct: $bd")
      assert(bd.values.map(new String(_, "UTF-8")).toSeq ==
        (0L until n).map(i => f"k$i%06d"), s"$codec direct values")
    }
    // an int column through the STRING decoder is a declined class
    import org.apache.spark.sql.functions.col
    val ints = writeOrc(spark.range(0L, 100L).select(col("id").as("v")),
      Map("compression" -> "none"))
    assert(OrcData.decodeStringFile(ints, 0).gated == 1)
  }

  test("synthetic ORC round-trips: encoder and decoder agree on every run shape") {
    val shapes: Seq[Seq[Option[Long]]] = Seq(
      (0 until 700).map(i => Some(i.toLong * 3)),           // delta
      (0 until 8).map(_ => Some(42L)),                      // short repeat
      (0 until 100).map(i => Some(((i * 37) % 91 - 45).toLong)), // direct ±
      (0 until 60).map(i => if (i % 5 == 2) None
        else Some((i % 7).toLong)),                         // nulls
      Seq(Some(-1L)), Seq(None, None, Some(9L)))
    for (vs <- shapes) {
      val bytes = OrcData.encodeSyntheticOrc(vs)
      val d = OrcData.decodeIntFile(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"n=${vs.size}: $d")
      assert(d.nValues == vs.flatten.size && d.nNulls == vs.count(_.isEmpty))
      assert(d.values.toSeq == vs.flatten, s"n=${vs.size}")
    }
    // foreign codec stamp: gated whole; truncation: malformed
    val g = OrcData.decodeIntFile(
      OrcData.encodeSyntheticOrc(Seq(Some(1L)), codecStamp = 4L), 0)
    assert(g.ok == 0 && g.gated == 1, g.toString)
    val full = OrcData.encodeSyntheticOrc((0 until 40).map(i => Some(i.toLong)))
    for (cut <- 1 until full.length)
      assert(OrcData.decodeIntFile(full.take(cut), 0).ok == 0, s"cut $cut")
  }

  test("synthetic ORC strings round-trip: direct and dictionary, nulls, declines, cuts") {
    def b(x: String) = x.getBytes("UTF-8")
    val vals: Seq[Option[Array[Byte]]] =
      Seq(Some(b("alpha")), None, Some(b("")), Some(b("alpha")),
        Some(b("zebra-long-value")), None) ++
        (0 until 60).map(i => if (i % 7 == 2) None else Some(b(s"v${i % 9}")))
    for (useDict <- Seq(false, true)) {
      val bytes = OrcData.encodeSyntheticOrcStrings(vals, useDict)
      val d = OrcData.decodeStringFile(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"dict=$useDict: $d")
      val want = vals.flatten
      assert(d.nValues == want.size && d.nNulls == vals.count(_.isEmpty))
      assert(d.values.map(_.toSeq).toSeq == want.map(_.toSeq), s"dict=$useDict")
      assert(d.sumLen == want.map(_.length).sum)
      if (useDict) assert(d.nDictVals == want.map(_.toSeq).distinct.size)
    }
    val g = OrcData.decodeStringFile(
      OrcData.encodeSyntheticOrcStrings(vals, useDict = false, codecStamp = 4L), 0)
    assert(g.gated == 1)
    val full = OrcData.encodeSyntheticOrcStrings(vals, useDict = true)
    for (cut <- 1 until full.length)
      assert(OrcData.decodeStringFile(full.take(cut), 0).ok == 0, s"cut $cut")
  }

  test("boolean byte-RLE primitive: runs, literals, exact bit count") {
    // run: control 2 → byte repeated 5x; literals: -2 → 2 literal bytes
    val buf = Array[Byte](2, 0xAA.toByte, -2, 0xF0.toByte, 0x0F)
    val bits = OrcData.booleanRle(buf, 7 * 8)
    assert(bits.length == 56)
    // 5 bytes of 0xAA = 10101010 ...
    assert(bits.take(8).toSeq == Seq(true, false, true, false, true, false, true, false))
    assert(bits.slice(40, 48).toSeq == Seq(true, true, true, true, false, false, false, false))
  }
}
