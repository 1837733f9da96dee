package graft.operators

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.SparkSpec
import graft.operators.CensusDigest.guarded

/** Characterization of the Parquet and ORC censuses: every consumer of
  * the two layouts runs over one fixed corpus — the columnar fuzz
  * generators' seeded valid inputs and ≥500 mutants each, Spark-written
  * files across codecs and page versions with their own mutants, and
  * the sf0.001 testdata parquet files — at colIdx 0 and 1. Each
  * consumer's full outputs (arrays by content, thrown exceptions by
  * class) fold into one SHA-256, pinned below.
  *
  * [[WalkerFuzzSpec]] checks invariants only; this spec pins the exact
  * accept/reject decision and census of every hostile input, so a
  * change to how the footers, pages, tails or stripes are walked shows
  * here as a digest change.
  */
class ColumnarWalkGoldenSpec extends SparkSpec {

  private val TestData = "/root/testdata/sf0.001"
  private val MutantsPerBase = 20
  private val SyntheticTrials = 520
  private val RealMutants = 100

  /** A generator the fuzz harness lacks: ORC tails with a metadata
    * section, so the stripe-statistics census sees real input.
    */
  private def orcStripeStats(rnd: Random): Array[Byte] = {
    val nStripes = 1 + rnd.nextInt(4)
    def stat(): OrcOps.ColStat = OrcOps.ColStat(rnd.nextInt(1000).toLong,
      if (rnd.nextInt(4) == 0) None
      else { val lo = rnd.nextInt(2000) - 1000L; Some((lo, lo + rnd.nextInt(500), 0L)) },
      rnd.nextBoolean())
    val stripes = nStripes + (if (rnd.nextInt(5) == 0) 1 else 0) // sometimes mismatched
    OrcOps.encodeSynthetic(nStripes, (1 + rnd.nextInt(500)).toLong,
      1 + rnd.nextInt(4), 0L, rnd.nextInt(10).toLong, rnd.nextInt(100),
      colStats = (0 until rnd.nextInt(3)).map(_ => stat()),
      stripeStats = (0 until stripes).map(_ => (0 until 1 + rnd.nextInt(3)).map(_ => stat())))
  }

  /** A Parquet file whose schema list holds i32s, not SchemaElement
    * structs: the censuses that read the schema reject it, the ones
    * that skip the schema must still read the row groups.
    */
  private def parquetSchemaNotStructs(rnd: Random): Array[Byte] = {
    val file = rnd.nextInt(3) match {
      case 0 => FuzzInputs.parquetFooter(rnd)
      case 1 => FuzzInputs.parquetPageIndex(rnd)
      case _ => FuzzInputs.parquetPages(rnd)
    }
    val n = file.length
    val start = n - 8 - Bytes.le32(file, n - 8)
    // FileMetaData opens with version (field 1, i32), then schema (field 2, list)
    val r = new ByteCursor(file, start, n - 8)
    assert(r.u8() == 0x15); r.zigzag()
    val listAt = r.pos
    assert(r.u8() == 0x19)
    ParquetFooter.skipValue(r, 9, 1)
    val footer = file.slice(start, listAt) ++ Array[Byte](0x19, 0x35, 2, 4, 6) ++
      file.slice(r.pos, n - 8)
    new ByteSink().raw(file.take(start)).raw(footer).le32(footer.length.toLong)
      .ascii("PAR1").toByteArray
  }

  private def synthetic: Vector[(String, Array[Byte])] =
    (FuzzInputs.columnar ++ Seq("orc-stripe-stats" -> (orcStripeStats _),
      "parquet-schema-not-structs" -> (parquetSchemaNotStructs _))).toVector.flatMap {
      case (name, gen) =>
        val rnd = new Random(0xC0FFEEL * 31 + name.hashCode)
        var base: Array[Byte] = null
        (0 until SyntheticTrials).toVector.flatMap { trial =>
          val b =
            if (trial % MutantsPerBase == 0) {
              base = gen(rnd)
              Vector(s"$name/$trial/base" -> base)
            } else Vector.empty
          b :+ (s"$name/$trial" -> FuzzInputs.mutate(rnd, base)._2)
        }
    }

  private def sparkFiles: Vector[(String, Array[Byte])] = {
    import org.apache.spark.sql.functions._
    val df = spark.range(0L, 3000L).select(
      when(col("id") % 7 === 0, lit(null)).otherwise((col("id") * 37) % 1001 - 500)
        .cast("long").as("v"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("k"), (col("id") % 53).cast("string"))).as("s"),
      col("id").cast("int").as("i"))
    def write(format: String, options: Map[String, String]): Array[Byte] = {
      val dir = Files.createTempDirectory("golden").toString
      df.coalesce(1).write.mode("overwrite").options(options).format(format).save(dir)
      val part = new java.io.File(dir).listFiles()
        .find(f => f.getName.startsWith("part-")).get
      try Files.readAllBytes(part.toPath)
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    val parquet = Seq(
      "snappy" -> Map("compression" -> "snappy"),
      "plain" -> Map("compression" -> "uncompressed", "parquet.enable.dictionary" -> "false"),
      "zstd" -> Map("compression" -> "zstd"),
      "v2" -> Map("parquet.writer.version" -> "PARQUET_2_0"),
      "gzip" -> Map("compression" -> "gzip"))
      .map { case (n, o) => s"spark-parquet-$n" -> write("parquet", o) }
    val orc = Seq("none", "zlib", "snappy", "zstd", "lz4")
      .map(c => s"spark-orc-$c" -> write("orc", Map("compression" -> c)))
    (parquet ++ orc).toVector.flatMap { case (name, bytes) =>
      val rnd = new Random(0xBEEFL * 31 + name.hashCode)
      (name -> bytes) +: (0 until RealMutants).map(i =>
        s"$name/$i" -> FuzzInputs.mutate(rnd, bytes)._2)
    }
  }

  private def testdata: Vector[(String, Array[Byte])] =
    Option(new java.io.File(TestData).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toVector
      .map(f => s"testdata/${f.getName}" -> Files.readAllBytes(Paths.get(f.getPath)))

  private lazy val corpus: Vector[(String, Array[Byte])] =
    synthetic ++ sparkFiles ++ testdata

  private val fileConsumers: Seq[(String, Array[Byte] => Any)] = Seq(
    "ParquetFooter.parse" -> (b => ParquetFooter.parse(b)),
    "OrcOps.parse" -> (b => OrcOps.parse(b)))

  private val columnConsumers: Seq[(String, (Array[Byte], Int) => Any)] = Seq(
    "ParquetFooter.statsCensus" -> ParquetFooter.statsCensus _,
    "ParquetFooter.pageIndexCensus" -> ParquetFooter.pageIndexCensus _,
    "ParquetFooter.pageRowsCensus" -> ParquetFooter.pageRowsCensus _,
    "ParquetPages.chunkMetas" -> ParquetPages.chunkMetas _,
    "ParquetPages.decodeInt64File" -> ((b, c) => ParquetPages.decodeInt64File(b, c, keepValues = true)),
    "ParquetPages.decodeBinaryFile" -> ((b, c) => ParquetPages.decodeBinaryFile(b, c, keepValues = true)),
    "OrcOps.stripeStatsCensus" -> OrcOps.stripeStatsCensus _,
    "OrcData.decodeIntFile" -> ((b, c) => OrcData.decodeIntFile(b, c, keepValues = true)),
    "OrcData.decodeStringFile" -> ((b, c) => OrcData.decodeStringFile(b, c, keepValues = true)))

  private def digest(run: Array[Byte] => Seq[Any]): String = CensusDigest.digest(corpus)(run)

  /** Digests computed on the walkers as they stood before the four
    * layouts were each given one walk.
    */
  private val Pinned: Map[String, String] = Map(
    "ParquetFooter.parse" ->
      "821d22f6b5f61994ebae3c47cf59d91c6923101ae467e35c59490646eae114bc",
    "OrcOps.parse" ->
      "0d073a4d14573fd6125cd6998af892459db0752394a4d65e77c3241a40ad4410",
    "ParquetFooter.statsCensus" ->
      "f654fa6e8bbbb1f2887893b8002685a58f554ef62eda5496af333a2a5a3e0103",
    "ParquetFooter.pageIndexCensus" ->
      "0c831c4e307e15018d2c295b2294f7af246e98f99bf199ac7cb43275b925a787",
    "ParquetFooter.pageRowsCensus" ->
      "e47826fd3d4775d21a8f1f0f62037c05397bddc1683f522b4f03de45a15434b1",
    "ParquetPages.chunkMetas" ->
      "d50a08821219b5d4bac7e4a32ac176ee033818cb0b3499aabe3a400313ead5b4",
    "ParquetPages.decodeInt64File" ->
      "64eb8038baac09ec485eb28a3cc52edad93d52b50f51ff4e8e94e3588df533ad",
    "ParquetPages.decodeBinaryFile" ->
      "44342c5a89e5146314b98ccd002c51e533a309ec91190fd1031398d19fde1112",
    "OrcOps.stripeStatsCensus" ->
      "da35479feb23d2ba37753b34bfda41469f4f30211833d8e197f69e5f826da997",
    "OrcData.decodeIntFile" ->
      "7d95defa790042e0d3b1c207ef740e0a899b22a6771e0e6cf7595b8a85d208c5",
    "OrcData.decodeStringFile" ->
      "1a09bdab197dd1765d3ba30edf394c3d13f4091cd5a72ab2e10ceb8b71a03e65")

  test("the corpus covers every generator, the Spark-written files and the testdata") {
    val names = corpus.map(_._1.takeWhile(_ != '/')).distinct
    assert(names.size == FuzzInputs.columnar.size + 2 + 10 + 1, names)
    assert(corpus.count(_._1.startsWith("testdata/")) >= 8)
    FuzzInputs.columnar.foreach { case (n, _) =>
      assert(corpus.count(c => c._1.startsWith(n + "/") && !c._1.endsWith("/base")) >= 500, n)
    }
  }

  for ((name, f) <- fileConsumers) test(s"$name: outputs match the pinned digest") {
    val got = digest(b => Seq(guarded(f(b))))
    assert(got == Pinned.getOrElse(name, ""), s"$name digest $got")
  }

  for ((name, f) <- columnConsumers) test(s"$name: outputs at colIdx 0 and 1 match the pinned digest") {
    val got = digest(b => Seq(guarded(f(b, 0)), guarded(f(b, 1))))
    assert(got == Pinned.getOrElse(name, ""), s"$name digest $got")
  }
}
