package graft.operators

import scala.util.Random

/** Seeded inputs shared by the walker specs: the mutation operators of
  * [[WalkerFuzzSpec]], the valid-input generators of the columnar
  * formats (Parquet, ORC), which [[ColumnarWalkGoldenSpec]] replays
  * through every census of those formats, and those of the Ogg and FLAC
  * walkers, which [[AudioWalkGoldenSpec]] replays.
  */
object FuzzInputs {

  def str(rnd: Random, n: Int): String =
    (0 until n).map(i => ('a' + rnd.nextInt(26)).toChar).mkString

  /** One seeded mutation of `base`: (kind, mutant). Kind 2 is
    * truncation, kind 3 is append — the two the fuzz harness's
    * monotonicity assertions key on.
    */
  def mutate(rnd: Random, base: Array[Byte]): (Int, Array[Byte]) = {
    val n = base.length
    val kind = rnd.nextInt(8)
    val out: Array[Byte] = kind match {
      case 0 if n > 0 => // single bit flip
        val b = base.clone()
        val p = rnd.nextInt(n)
        b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
        b
      case 1 if n > 0 => // burst overwrite, 1–8 bytes
        val b = base.clone()
        val p = rnd.nextInt(n)
        val len = math.min(1 + rnd.nextInt(8), n - p)
        var i = 0
        while (i < len) { b(p + i) = rnd.nextInt(256).toByte; i += 1 }
        b
      case 2 => // truncation (possibly to empty)
        base.take(rnd.nextInt(n + 1))
      case 3 => // garbage append, 1–64 bytes
        base ++ Array.fill(1 + rnd.nextInt(64))(rnd.nextInt(256).toByte)
      case 4 if n > 0 => // zero-fill window ≤16
        val b = base.clone()
        val p = rnd.nextInt(n)
        val len = math.min(1 + rnd.nextInt(16), n - p)
        java.util.Arrays.fill(b, p, p + len, 0.toByte)
        b
      case 5 if n > 0 => // 0xFF-fill window ≤8: the huge-length injection
        val b = base.clone()
        val p = rnd.nextInt(n)
        val len = math.min(1 + rnd.nextInt(8), n - p)
        java.util.Arrays.fill(b, p, p + len, 0xFF.toByte)
        b
      case 6 if n > 1 => // splice a slice over another position
        val b = base.clone()
        val from = rnd.nextInt(n)
        val len = math.min(1 + rnd.nextInt(32), n - from)
        val to = rnd.nextInt(n - len + 1)
        System.arraycopy(base, from, b, to, len)
        b
      case _ if n > 0 => // header bit flip (first 16 bytes)
        val b = base.clone()
        val p = rnd.nextInt(math.min(16, n))
        b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
        b
      case _ => base // n == 0 fallthrough for in-place kinds
    }
    (kind, out)
  }

  // ---- the columnar generators

  def parquetPageIndex(rnd: Random): Array[Byte] =
    ParquetFooter.encodeSyntheticPaged(
      Seq("a", "b", "c"), 1 + rnd.nextInt(3), 10L + rnd.nextInt(100),
      rnd.nextInt(3),
      rg => (0 until 1 + rnd.nextInt(4)).map(p =>
        (rnd.nextInt(5) == 0, rg * 100L + p * 10L, rg * 100L + p * 10L + 9,
          rnd.nextInt(10).toLong)))

  def orcTail(rnd: Random): Array[Byte] =
    OrcOps.encodeSynthetic(1 + rnd.nextInt(4), (1 + rnd.nextInt(1000)).toLong,
      1 + rnd.nextInt(6), Seq(0L, 0L, 1L, 2L, 5L)(rnd.nextInt(5)),
      rnd.nextInt(10).toLong, rnd.nextInt(200),
      colStats = (0 until rnd.nextInt(4)).map(_ =>
        OrcOps.ColStat(rnd.nextInt(1000).toLong,
          if (rnd.nextBoolean()) Some((rnd.nextLong(), rnd.nextLong(), rnd.nextLong()))
          else None,
          rnd.nextBoolean())))

  def parquetFooter(rnd: Random): Array[Byte] =
    ParquetFooter.encodeSynthetic(1 + rnd.nextInt(2),
      (0 until 1 + rnd.nextInt(20)).map(i => s"c$i"), 1 + rnd.nextInt(4),
      (1 + rnd.nextInt(1000)).toLong, (1 + rnd.nextInt(100000)).toLong,
      c => rnd.nextInt(9), s"w${rnd.nextInt(100)}", rnd.nextInt(300))

  def parquetPages(rnd: Random): Array[Byte] =
    ParquetPages.encodeInt64File(
      (0 until 1 + rnd.nextInt(3)).map { _ =>
        (0 until 1 + rnd.nextInt(3)).map { _ =>
          (0 until 1 + rnd.nextInt(60)).map(_ =>
            if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(40).toLong))
        }
      },
      useDict = rnd.nextBoolean(), codec = rnd.nextInt(2))

  def parquetPagesBinary(rnd: Random): Array[Byte] =
    ParquetPages.encodeBinaryFile(
      Seq((0 until 1 + rnd.nextInt(3)).map { _ =>
        (0 until 1 + rnd.nextInt(40)).map(_ =>
          if (rnd.nextInt(5) == 0) None
          else Some(str(rnd, rnd.nextInt(12)).getBytes("UTF-8")))
      }),
      encoding = Seq(0, 8, 6, 7)(rnd.nextInt(4)), codec = rnd.nextInt(2))

  def orcData(rnd: Random): Array[Byte] =
    OrcData.encodeSyntheticOrc(
      (0 until 1 + rnd.nextInt(200)).map(i =>
        if (rnd.nextInt(6) == 0) None
        else Some((rnd.nextInt(2000) - 1000).toLong)))

  def orcStrings(rnd: Random): Array[Byte] =
    OrcData.encodeSyntheticOrcStrings(
      (0 until 1 + rnd.nextInt(80)).map(_ =>
        if (rnd.nextInt(6) == 0) None
        else Some(str(rnd, rnd.nextInt(10)).getBytes("UTF-8"))),
      useDict = rnd.nextBoolean())

  /** Every columnar generator, by its fuzz-harness name. */
  val columnar: Seq[(String, Random => Array[Byte])] = Seq(
    "parquet-page-index" -> parquetPageIndex,
    "orc-tail" -> orcTail,
    "parquet-footer" -> parquetFooter,
    "parquet-pages" -> parquetPages,
    "parquet-pages-binary" -> parquetPagesBinary,
    "orc-data" -> orcData,
    "orc-strings" -> orcStrings)

  // ---- the Ogg and FLAC generators

  def ogg(rnd: Random): Array[Byte] = {
    val nPages = 1 + rnd.nextInt(5)
    OggOps.encodeSynthetic((0 until nPages).map { p =>
      val hType = if (p == 0) 2 else if (p == nPages - 1) 4 else Seq(0, 1)(rnd.nextInt(2))
      (hType, p * 960L, (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(255)))
    })
  }

  def oggCodec(rnd: Random): Array[Byte] =
    OggOps.encodeSyntheticPackets(Seq(
      (2, 0L,
        if (rnd.nextBoolean()) OggOps.opusHeadPacket(1 + rnd.nextInt(8), rnd.nextInt(1000), 48000L)
        else OggOps.vorbisIdPacket(1 + rnd.nextInt(8), 8000L + rnd.nextInt(90000))),
      (4, 960L * (1 + rnd.nextInt(5)),
        Array.fill(rnd.nextInt(600))(rnd.nextInt(256).toByte))))

  def opusToc(rnd: Random): Array[Byte] =
    OggOps.encodeSyntheticPackets(Seq(
      (2, 0L, OggOps.opusHeadPacket(1 + rnd.nextInt(2), rnd.nextInt(500), 48000L)),
      (0, 0L, "OpusTags".getBytes("US-ASCII"))) ++
      (0 until 1 + rnd.nextInt(4)).map { p =>
        val toc = ((rnd.nextInt(32) << 3) | (rnd.nextInt(2) << 2) | rnd.nextInt(4)).toByte
        (0, 960L * (p + 1), toc +: Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte))
      })

  def flac(rnd: Random): Array[Byte] =
    FlacOps.encodeSynthetic(8000 + rnd.nextInt(40000), 1 + rnd.nextInt(2),
      8 + rnd.nextInt(17), rnd.nextInt(100000).toLong,
      (0 until rnd.nextInt(3)).map(_ => (1 + rnd.nextInt(6), rnd.nextInt(120))),
      rnd.nextInt(500))

  /** The Ogg and FLAC generators, by their fuzz-harness names. */
  val audio: Seq[(String, Random => Array[Byte])] = Seq(
    "ogg" -> ogg, "ogg-codec" -> oggCodec, "opus-toc" -> opusToc, "flac" -> flac)
}
