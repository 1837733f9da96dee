package graft.operators

import graft.SparkSpec

/** Parquet data-page decoder — real-writer pins first (parquet-mr via
  * Spark's own writer: snappy + dictionary + nulls + the
  * dictionary→PLAIN mid-chunk fallback; pyarrow via the testdata
  * files), then synthetic class round-trips and the adversarial
  * truncation sweep.
  */
class ParquetPagesSpec extends SparkSpec {

  private def sparkWrite(df: org.apache.spark.sql.DataFrame,
      options: Map[String, String]): Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString
    df.coalesce(1).write.mode("overwrite").options(options).parquet(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  test("REAL parquet-mr chunk: snappy + dictionary + nulls hash-matches the engine's own read") {
    import org.apache.spark.sql.functions._
    val n = 20000L
    // low-cardinality → dictionary-encoded throughout; nulls every 7th
    val df = spark.range(0L, n)
      .select(when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 331)
        .cast("long").as("v"))
    val bytes = sparkWrite(df, Map.empty) // Spark defaults: snappy + dict
    val meta = ParquetFooter.parse(bytes)
    assert(meta.nSnappy > 0, "Spark default must be snappy")
    val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    assert(d.nDictVals == 331, s"dictionary must hold the 331 distinct: $d")
    val rows = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(d.nValues + d.nNulls == n)
    assert(d.nNulls == rows.count(_.isEmpty))
    // exact value-sequence match, in row order
    assert(d.values.toSeq == rows.flatten.toSeq,
      "walker-decoded values must equal the engine's own rows")
    assert(d.sum == rows.flatten.sum && d.minV == rows.flatten.min &&
      d.maxV == rows.flatten.max)
  }

  test("REAL parquet-mr dictionary→PLAIN fallback mid-chunk decodes whole") {
    import org.apache.spark.sql.functions.col
    // early pages repeat 16 values (dictionary compresses, pages flush
    // dict-encoded), then every row is a NEW distinct until the dict
    // page blows its cap — parquet-mr then switches the REMAINING
    // pages to PLAIN inside the same chunk, behind the same dictionary
    // page. The per-page encoding dispatch is what this pins. (All
    // distinct from row 0 never gets here: the dict is abandoned as
    // non-compressing before the first flush — no dict page at all.)
    import org.apache.spark.sql.functions.when
    val n = 20000L
    val df = spark.range(0L, n)
      .select(when(col("id") < 4096, col("id") % 16)
        .otherwise(col("id")).as("v"))
    val bytes = sparkWrite(df, Map(
      "parquet.page.size" -> "4096",
      "parquet.dictionary.page.size" -> "65536"))
    val d = ParquetPages.decodeInt64File(bytes, 0)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    assert(d.nDictVals > 0 && d.nDictVals < n,
      s"fallback means a partial dictionary: $d")
    assert(d.nValues == n && d.nNulls == 0)
    import org.apache.spark.sql.functions.{sum => ssum, min => smin, max => smax}
    val want = df.agg(ssum("v"), smin("v"), smax("v")).collect()(0)
    assert(d.sum == want.getLong(0) && d.minV == want.getLong(1) &&
      d.maxV == want.getLong(2), d.toString)
  }

  test("REAL parquet-mr PLAIN + uncompressed (dictionary off) decodes exactly") {
    import org.apache.spark.sql.functions.col
    val n = 10000L
    val df = spark.range(0L, n).select((col("id") * 3 - 7).as("v"))
    val bytes = sparkWrite(df,
      Map("compression" -> "uncompressed", "parquet.enable.dictionary" -> "false"))
    val meta = ParquetFooter.parse(bytes)
    assert(meta.nUncompressed > 0)
    val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
    assert(d.ok == 1 && d.nDictVals == 0, d.toString)
    assert(d.values.toSeq == (0L until n).map(_ * 3 - 7))
  }

  test("REAL pyarrow testdata: orders o_orderkey decodes to the engine's own aggregates") {
    val path = "/root/testdata/sf0.001/orders.parquet"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val df = spark.read.parquet(path)
    val idx = df.schema.fieldNames.indexOf("o_orderkey")
    val d = ParquetPages.decodeInt64File(bytes, idx)
    if (d.gated == 1) {
      // honest decline (pyarrow chose an undecodable class for this
      // file) — never a wrong number; but the footer must still census
      assert(ParquetFooter.parse(bytes).valid == 1)
      cancel("pyarrow wrote a gated class for o_orderkey on this file")
    }
    assert(d.ok == 1, d.toString)
    import org.apache.spark.sql.functions._
    val want = df.agg(count("o_orderkey"), sum("o_orderkey"),
      min("o_orderkey"), max("o_orderkey")).collect()(0)
    assert(d.nValues == want.getLong(0) && d.sum == want.getLong(1))
    assert(d.minV == want.getLong(2) && d.maxV == want.getLong(3))
  }

  test("REQUIRED column (no def levels) decodes: spark.range id is non-nullable") {
    import org.apache.spark.sql.functions.col
    val bytes = sparkWrite(spark.range(0L, 5000L).select(col("id")), Map.empty)
    val cms = ParquetPages.chunkMetas(bytes, 0)
    assert(cms.nonEmpty && cms.forall(_.maxDef == 0),
      s"range id must be REQUIRED: $cms")
    val d = ParquetPages.decodeInt64File(bytes, 0)
    assert(d.ok == 1 && d.nNulls == 0 && d.sum == 5000L * 4999 / 2, d.toString)
  }

  test("synthetic round-trip: every class combination (dict/plain x snappy/raw x pages x row groups)") {
    for {
      useDict <- Seq(true, false)
      codec <- Seq(0, 1)
    } {
      val rg0 = Seq(
        Seq(Some(5L), None, Some(7L), Some(5L), None, Some(-3L)),
        (0 until 40).map(i => if (i % 5 == 0) None else Some((i % 9).toLong)))
      val rg1 = Seq((0 until 20).map(i => Some((i % 4).toLong * 100)))
      val bytes = ParquetPages.encodeInt64File(Seq(rg0, rg1), useDict, codec)
      val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"dict=$useDict codec=$codec: $d")
      val want = (rg0.flatten ++ rg1.flatten)
      assert(d.nValues == want.flatten.size && d.nNulls == want.count(_.isEmpty))
      assert(d.values.toSeq == want.flatten)
      assert(d.nRgs == 2 && d.nPages == 3)
      assert(d.sum == want.flatten.sum && d.minV == want.flatten.min &&
        d.maxV == want.flatten.max)
      if (useDict)
        assert(d.nDictVals ==
          (rg0.flatten.flatten.distinct.size + rg1.flatten.flatten.distinct.size))
    }
  }

  test("gated classes: foreign codec, non-INT64 physical type, nested schema — declined, never guessed") {
    // gzip-stamped chunk: valid file shape, undecodable codec
    val gz = ParquetPages.encodeInt64File(
      Seq(Seq(Seq(Some(1L), Some(2L)))), useDict = false, codec = 2)
    val d = ParquetPages.decodeInt64File(gz, 0)
    assert(d.ok == 0 && d.gated == 1, d.toString)
    // a real string column is not INT64 → gated
    val doc = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"))
    val sdf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sidx = sdf.schema.fieldNames.indexOf("lang")
    val ds = ParquetPages.decodeInt64File(doc, sidx)
    assert(ds.ok == 0 && ds.gated == 1, ds.toString)
    // a nested schema (embeddings' float array) is flagged non-flat
    val emb = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"))
    val cms = ParquetPages.chunkMetas(emb, 0)
    assert(cms.isEmpty || cms.exists(!_.flat) ||
      ParquetPages.decodeInt64File(emb, 1).gated == 1)
  }

  test("truncation fails closed at EVERY cut (never a partial census)") {
    val full = ParquetPages.encodeInt64File(
      Seq(Seq(Seq(Some(5L), None, Some(7L)), (0 until 30).map(i => Some(i.toLong)))),
      useDict = true, codec = 1)
    val whole = ParquetPages.decodeInt64File(full, 0)
    assert(whole.ok == 1 && whole.nValues == 33 - 1)
    for (cut <- 1 until full.length) {
      val d = ParquetPages.decodeInt64File(full.take(cut), 0)
      assert(d.ok == 0 && d.nValues == 0 && d.sum == 0,
        s"cut at $cut must fail closed: $d")
    }
    // and the dedicated truncate knob plants the same class
    val t = ParquetPages.encodeInt64File(
      Seq(Seq(Seq(Some(1L)))), useDict = false, codec = 0, truncate = 3)
    assert(ParquetPages.decodeInt64File(t, 0).ok == 0)
  }

  test("chunk-level corruptions: bad dict index, duplicate dict, num_values mismatch") {
    // flip a dictionary-index byte so an index points past the dict:
    // either the RLE stream still parses (wrong index → malformed) or
    // it doesn't (exhaustion → malformed); never ok with wrong values
    val full = ParquetPages.encodeInt64File(
      Seq(Seq((0 until 64).map(i => Some((i % 3).toLong * 1000)))),
      useDict = true, codec = 0)
    val want = ParquetPages.decodeInt64File(full, 0, keepValues = true)
    assert(want.ok == 1)
    var anyBad = false
    for (p <- 0 until full.length - 12) {
      val mut = full.clone()
      mut(p) = (mut(p) ^ 0x5a).toByte
      val d = ParquetPages.decodeInt64File(mut, 0, keepValues = true)
      if (d.ok == 0) anyBad = true
      // a mutant that still parses must parse CONSISTENTLY (counts
      // reconcile); we never assert values (the flip may hit a value
      // byte legitimately)
      if (d.ok == 1) assert(d.nValues + d.nNulls == want.nValues + want.nNulls)
    }
    assert(anyBad, "some flip must land in structure")
  }

  test("REAL parquet-mr ZSTD chunk decodes through the full zstd frame decoder") {
    import org.apache.spark.sql.functions._
    val n = 30000L
    val df = spark.range(0L, n)
      .select(when(col("id") % 9 === 0, lit(null)).otherwise(col("id") % 97)
        .cast("long").as("v"))
    val bytes = sparkWrite(df, Map("compression" -> "zstd"))
    assert(ParquetFooter.parse(bytes).nZstd > 0, "must actually be zstd")
    val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    val rows = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(d.nValues + d.nNulls == n && d.nNulls == rows.count(_.isEmpty))
    assert(d.values.toSeq == rows.flatten.toSeq,
      "zstd-page values must equal the engine's own rows")
  }

  test("REAL parquet-mr INT32 column decodes sign-extended at width 4") {
    import org.apache.spark.sql.functions.col
    val n = 20000L
    val df = spark.range(0L, n)
      .select((col("id") - 10000).cast("int").as("v")) // negatives included
    val bytes = sparkWrite(df, Map.empty)
    val cms = ParquetPages.chunkMetas(bytes, 0)
    assert(cms.nonEmpty && cms.forall(_.physType == 1), s"INT32 expected: $cms")
    val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    assert(d.minV == -10000 && d.maxV == n - 10001, d.toString)
    assert(d.values.toSeq == (0L until n).map(_ - 10000))
  }

  test("data page V2: synthetic round-trip across dict/plain x snappy/raw") {
    for {
      useDict <- Seq(true, false)
      codec <- Seq(0, 1)
    } {
      val rg0 = Seq(
        Seq(Some(5L), None, Some(7L), Some(5L), None, Some(-3L)),
        (0 until 40).map(i => if (i % 5 == 0) None else Some((i % 9).toLong)))
      val bytes = ParquetPages.encodeInt64File(Seq(rg0), useDict, codec,
        pageV2 = true)
      val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"V2 dict=$useDict codec=$codec: $d")
      val want = rg0.flatten
      assert(d.values.toSeq == want.flatten && d.nNulls == want.count(_.isEmpty))
      assert(d.nPages == 2, d.toString)
      // a V2 header whose num_nulls LIES against the levels is malformed
      // (flip a header byte region is imprecise — instead truncate sweep)
      for (cut <- 1 until bytes.length)
        assert(ParquetPages.decodeInt64File(bytes.take(cut), 0).ok == 0,
          s"V2 cut $cut must fail closed")
    }
  }

  test("REAL parquet-mr PARQUET_2_0 write: V2 dict pages AND the delta fallback decode") {
    import org.apache.spark.sql.functions._
    val n = 20000L
    // low cardinality + nulls → V2 RLE_DICTIONARY pages
    val df = spark.range(0L, n)
      .select(when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 331)
        .cast("long").as("v"))
    val bytes = sparkWrite(df, Map("parquet.writer.version" -> "PARQUET_2_0"))
    val d = ParquetPages.decodeInt64File(bytes, 0, keepValues = true)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    val rows = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(d.values.toSeq == rows.flatten.toSeq,
      "real V2 pages must decode to the engine's own rows")
    // all-distinct → the V2 writer falls back to DELTA_BINARY_PACKED,
    // which the decoder now reads block-for-block
    val bytes2 = sparkWrite(spark.range(0L, n).select(col("id").as("v")),
      Map("parquet.writer.version" -> "PARQUET_2_0"))
    val d2 = ParquetPages.decodeInt64File(bytes2, 0, keepValues = true)
    assert(d2.ok == 1 && d2.gated == 0, s"real DELTA_BINARY_PACKED: $d2")
    assert(d2.values.toSeq == (0L until n), "delta values must be exact")
  }

  test("DELTA_BINARY_PACKED: encoder/decoder round-trip incl. negatives, wraps, widths") {
    val rnd = new scala.util.Random(11)
    for (w <- Seq(4, 8)) {
      val seqs = Seq(
        (0L until 1000L),                             // +1 runs
        (0 until 700).map(i => (i * i).toLong - 5000), // growing deltas
        (0 until 300).map(_ => rnd.nextLong() >> 30),  // mixed sign
        Seq(42L),                                      // single value
        (0 until 129).map(i => -i.toLong))             // one block + 1
      for (vs0 <- seqs) {
        val vs = if (w == 4) vs0.map(v => v.toInt.toLong) else vs0
        val enc = ParquetPages.encodeDeltaBinaryPacked(vs, w)
        val (dec, end) = ParquetPages.deltaBinaryPacked(enc, 0, vs.size, w)
        assert(dec.toSeq == vs, s"w=$w n=${vs.size}")
        assert(end == enc.length, s"w=$w: exact consumption")
      }
    }
  }

  test("REAL string columns decode: pyarrow testdata, parquet-mr V1, and V2 DELTA_BYTE_ARRAY") {
    import org.apache.spark.sql.functions._
    // pyarrow-written testdata: documents.lang
    val path = "/root/testdata/sf0.001/documents.parquet"
    val doc = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val sdf = spark.read.parquet(path)
    val idx = sdf.schema.fieldNames.indexOf("lang")
    val d = ParquetPages.decodeBinaryFile(doc, idx, keepValues = true)
    assert(d.ok == 1 && d.gated == 0, d.toString)
    val want = sdf.select("lang").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getString(0)))
    assert(d.nValues == want.count(_.isDefined) &&
      d.nNulls == want.count(_.isEmpty))
    assert(d.values.map(new String(_, "UTF-8")).toSeq == want.flatten.toSeq,
      "pyarrow string values must round-trip byte-exact")
    // parquet-mr V1 (snappy + dict) with nulls
    val n = 8000L
    val df = spark.range(0L, n)
      .select(when(col("id") % 5 === 0, lit(null))
        .otherwise(concat(lit("val-"), (col("id") % 97).cast("string")))
        .as("s"))
    val b1 = sparkWrite(df, Map.empty)
    val d1 = ParquetPages.decodeBinaryFile(b1, 0, keepValues = true)
    assert(d1.ok == 1 && d1.nDictVals == 97, d1.toString)
    val w1 = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getString(0)))
    assert(d1.values.map(new String(_, "UTF-8")).toSeq == w1.flatten.toSeq)
    // parquet-mr PARQUET_2_0 all-distinct strings → DELTA_BYTE_ARRAY
    val df2 = spark.range(0L, n)
      .select(concat(lit("k"), format_string("%08d", col("id"))).as("s"))
    val b2 = sparkWrite(df2, Map("parquet.writer.version" -> "PARQUET_2_0"))
    val d2 = ParquetPages.decodeBinaryFile(b2, 0, keepValues = true)
    assert(d2.ok == 1 && d2.gated == 0, s"real DELTA_BYTE_ARRAY: $d2")
    assert(d2.values.map(new String(_, "UTF-8")).toSeq ==
      (0L until n).map(i => f"k$i%08d"),
      "front-coded strings must reassemble exactly")
  }

  test("synthetic BYTE_ARRAY round-trip: PLAIN / dict / DELTA_LENGTH / DELTA_BYTE_ARRAY x codecs") {
    def s(x: String) = x.getBytes("UTF-8")
    val rg = Seq(
      Seq(Some(s("alpha")), None, Some(s("alphabet")), Some(s("")), None),
      (0 until 50).map(i => if (i % 7 == 3) None
        else Some(s(f"prefix-common-$i%03d"))))
    for {
      enc <- Seq(0, 8, 6, 7)
      codec <- Seq(0, 1)
    } {
      val bytes = ParquetPages.encodeBinaryFile(Seq(rg), enc, codec)
      val d = ParquetPages.decodeBinaryFile(bytes, 0, keepValues = true)
      assert(d.ok == 1 && d.gated == 0, s"enc=$enc codec=$codec: $d")
      val want = rg.flatten
      assert(d.nValues == want.flatten.size && d.nNulls == want.count(_.isEmpty))
      assert(d.values.map(_.toSeq).toSeq == want.flatten.map(_.toSeq),
        s"enc=$enc codec=$codec")
      assert(d.sumLen == want.flatten.map(_.length).sum)
      if (enc == 8) assert(d.nDictVals ==
        want.flatten.map(_.toSeq).distinct.size)
    }
    // truncation fails closed at every cut (the delta-coded form too)
    val full = ParquetPages.encodeBinaryFile(Seq(rg), 7, 1)
    for (cut <- 1 until full.length)
      assert(ParquetPages.decodeBinaryFile(full.take(cut), 0).ok == 0,
        s"cut $cut")
  }

  test("RLE/bit-packed hybrid: encoder and decoder agree on both run kinds and widths") {
    val rnd = new scala.util.Random(7)
    for (bw <- Seq(1, 2, 3, 5, 8, 12, 17)) {
      val max = if (bw >= 31) Int.MaxValue else (1 << bw) - 1
      val vals = (0 until 500).map { i =>
        if (i / 50 % 2 == 0) (i / 50) % (max + 1) // long equal runs → RLE
        else rnd.nextInt(max + 1)                 // mixed → bit-packed
      }
      val enc = ParquetPages.encodeRleHybrid(vals, bw)
      val (dec, _) = ParquetPages.rleHybrid(enc, 0, enc.length, bw, vals.size)
      assert(dec.toSeq == vals, s"bw=$bw")
    }
  }
}
