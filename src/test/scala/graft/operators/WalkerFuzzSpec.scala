package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Unified seeded mutation harness over EVERY binary walker/decoder —
  * the cross-format adversarial pass two rounds of manual audits kept
  * earning (the r9 `pos + len > n` wrap class and the r10 six-site
  * Int-wrap sweep were both found by review, not by the hand-picked
  * per-format malformed-class specs).
  *
  * Per walker: a randomized-but-seeded VALID input, then ≥500 seeded
  * mutations (bit flips, burst overwrites, truncation, garbage append,
  * zero/0xFF windows — the huge-length injection — splices, header
  * flips), asserting the stop-don't-guess contract on every mutant:
  *
  *  1. no throw — a single crafted file must never kill a Spark task;
  *  2. no hang — each parse completes inside a generous wall budget
  *     (mutants are ≤ a few KB; seconds means an unbounded loop);
  *  3. position sanity — reported trailing bytes stay in [0, n] and
  *     record counts stay ≥ 0 (a negative or over-length value means
  *     a desynced walk);
  *  4. truncation monotonicity — a PREFIX of the input can never parse
  *     MORE records than the whole (guessing at a cut frame is how
  *     counts invent records);
  *  5. append prefix-stability (forward walkers only) — appending
  *     garbage to a valid stream never LOSES the records the valid
  *     prefix already parsed (the walked prefix is independent of what
  *     follows). ZIP is excluded by design (discovery starts at the
  *     EOCD, i.e. the END of the file), as are the whole-input
  *     validating decoders (WAV/AVI return None on any malformation —
  *     fail-closed, but not prefix-preserving).
  *
  * Mutants that happen to stay well-formed just pass through — the
  * harness asserts robustness invariants, not specific counts (the
  * per-format specs pin those).
  *
  * Every walker reads through the shared byte layer (`Bytes.scala`:
  * ByteCursor, BitCursor, the absolute reads, `riffChunks`), whose
  * overruns all raise the one `Malformed` each walker maps to its
  * fail-closed result; BytesSpec pins the layer's bounds directly, and
  * this harness checks that each walker keeps the contract on top of
  * it. The four WAV decoders (PCM, IMA ADPCM, µ-law, A-law) share one
  * RIFF chunk walk, and each is fuzzed here.
  */
class WalkerFuzzSpec extends AnyFunSuite {

  import FuzzInputs.{mutate, str}

  /** One walker under fuzz: a seeded valid-input generator, a total
    * parse function returning (recordCount, trailingBytes), and the
    * two monotonicity flags justified per-format above.
    */
  private case class Fuzzed(
      name: String,
      gen: scala.util.Random => Array[Byte],
      parse: Array[Byte] => (Long, Long),
      appendStable: Boolean = true)

  private val walkers: Seq[Fuzzed] = Seq(
    Fuzzed("warc",
      rnd => WarcOps.encodeSynthetic((0 until 1 + rnd.nextInt(5)).map { i =>
        val t = Seq("warcinfo", "request", "response", "metadata", "resource")(rnd.nextInt(5))
        (t, if (rnd.nextBoolean()) Some(s"http://${str(rnd, 5)}.com/$i") else None,
          rnd.nextInt(300))
      }),
      b => { val m = WarcOps.parse(b); (m.nRecords.toLong, m.trailingBytes) }),
    Fuzzed("tar",
      rnd => TarOps.encodeSynthetic((0 until 1 + rnd.nextInt(4)).map { i =>
        (s"${str(rnd, 4)}$i.${Seq("txt", "json", "bin")(rnd.nextInt(3))}", rnd.nextInt(700))
      }),
      b => { val m = TarOps.parse(b, Seq("txt")); (m.nEntries.toLong, m.trailingBytes) }),
    Fuzzed("zip",
      rnd => ZipOps.encodeSynthetic((0 until 1 + rnd.nextInt(4)).map { i =>
        val u = 1 + rnd.nextInt(300)
        (s"${str(rnd, 4)}$i.txt", Seq(0, 8, 12)(rnd.nextInt(3)),
          1 + rnd.nextInt(u), u)
      }),
      b => { val m = ZipOps.parse(b); (m.nEntries.toLong, m.trailingBytes) },
      appendStable = false), // EOCD discovery starts at the file END
    Fuzzed("ogg", FuzzInputs.ogg,
      b => { val m = OggOps.parse(b); (m.nPages.toLong, m.trailingBytes) }),
    Fuzzed("ogg-codec", FuzzInputs.oggCodec,
      b => { val m = OggOps.codecMeta(b); (m.nStreams.toLong, m.trailingBytes) }),
    Fuzzed("opus-toc", FuzzInputs.opusToc,
      b => { val m = OggOps.opusTocCensus(b); (m.nAudioPackets.toLong, m.trailingBytes) }),
    Fuzzed("flac", FuzzInputs.flac,
      b => { val m = FlacOps.parse(b); (m.nMetaBlocks.toLong, m.trailingBytes) }),
    Fuzzed("bmff",
      rnd => IsoBmff.encodeSynthetic("isom", 1 + rnd.nextInt(48000),
        rnd.nextInt(100000), rnd.nextInt(4), rnd.nextInt(400)),
      b => { val m = IsoBmff.parse(b); (m.nBoxes.toLong, m.trailingBytes) }),
    Fuzzed("nal",
      rnd => NalCensus.encodeSynthetic((0 until 1 + rnd.nextInt(5)).map { _ =>
        (Seq(1, 5, 6, 7, 8, 9)(rnd.nextInt(6)), rnd.nextInt(200), rnd.nextBoolean())
      }),
      b => { val m = NalCensus.parse(b); (m.nNals.toLong, m.trailingBytes.toLong) }),
    Fuzzed("exif",
      rnd => ExifOps.encodeSynthetic(rnd.nextBoolean(), 1 + rnd.nextInt(8),
        rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean(),
        rnd.nextInt(300)),
      b => { val m = ExifOps.parse(b); (m.nIfd0Entries.toLong, m.trailingBytes) }),
    Fuzzed("tfrecord",
      rnd => TfRecordOps.encodeSynthetic((0 until 1 + rnd.nextInt(5)).map(_ => rnd.nextInt(300))),
      b => { val m = TfRecordOps.parse(b); (m.nRecords.toLong, m.trailingBytes) }),
    Fuzzed("safetensors",
      rnd => SafeTensorsOps.encodeSynthetic((0 until 1 + rnd.nextInt(3)).map { i =>
        (s"t$i", Seq("F32", "F16", "I8", "I64")(rnd.nextInt(4)),
          (0 until 1 + rnd.nextInt(3)).map(_ => 1 + rnd.nextInt(8)))
      }),
      b => { val m = SafeTensorsOps.parse(b); (m.nTensors.toLong, m.trailingBytes) }),
    Fuzzed("gguf",
      rnd => GgufOps.encodeSynthetic(
        kvStrings = (0 until rnd.nextInt(3)).map(i => (s"k$i", str(rnd, 6))),
        kvScalars = (0 until rnd.nextInt(3)).map(i =>
          (s"s$i", Seq(0, 1, 2, 3, 4, 5, 6, 7, 10, 11, 12)(rnd.nextInt(11)))),
        kvArrays = (0 until rnd.nextInt(2)).map(i => (s"a$i", 1 + rnd.nextInt(4))),
        tensors = (0 until rnd.nextInt(3)).map(i =>
          (s"blk.$i.w", Seq(1L + rnd.nextInt(8), 1L + rnd.nextInt(8)), rnd.nextInt(2)))),
      b => { val m = GgufOps.parse(b); (m.nKv.toLong + m.nTensors, m.trailingBytes) }),
    Fuzzed("mp3",
      rnd => MpegAudio.encodeSynthetic(if (rnd.nextBoolean()) rnd.nextInt(150) else -1,
        rnd.nextInt(3),
        (0 until 1 + rnd.nextInt(5)).map(_ => (1 + rnd.nextInt(14), rnd.nextInt(2)))),
      b => { val m = MpegAudio.parse(b); (m.nFrames.toLong, m.trailingBytes.toLong) }),
    Fuzzed("adts",
      rnd => MpegAudio.encodeSyntheticAdts(rnd.nextInt(13), rnd.nextInt(4),
        1 + rnd.nextInt(6),
        (0 until 1 + rnd.nextInt(4)).map(_ => (1 + rnd.nextInt(200), rnd.nextBoolean(), rnd.nextInt(3)))),
      b => { val m = MpegAudio.parseAdts(b); (m.nFrames.toLong, m.trailingBytes.toLong) }),
    Fuzzed("zstd",
      rnd => ZstdOps.encodeSynthetic(
        Array.fill(rnd.nextInt(1200))(rnd.nextInt(256).toByte), 1 + rnd.nextInt(400),
        rnd.nextBoolean(), if (rnd.nextBoolean()) 1 + rnd.nextInt(50) else 0,
        rnd.nextInt(200)),
      b => { val m = ZstdOps.parse(b); (m.nFrames.toLong + m.nSkippable, m.trailingBytes) }),
    Fuzzed("zstd-seq",
      rnd => {
        // frames mixing raw blocks with the full sequence-decoder
        // surface: the real predefined-FSE block, a hand-encoded
        // RLE-mode block, and occasionally a Repeat-mode follower
        val predef = ("6061626364656667685f78797a01000ccb11"
          .grouped(2).map(Integer.parseInt(_, 16).toByte)).toArray
        val rleMode = ZstdOps.literalsHeader(0, 10) ++
          "0123456789".getBytes ++ Array[Byte](1, 0x54, 4, 1, 5, 0x02)
        val blocks = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
        blocks += ((0, Array.fill(rnd.nextInt(60))(rnd.nextInt(256).toByte)))
        if (rnd.nextBoolean()) blocks += ((2, predef))
        blocks += ((2, rleMode))
        if (rnd.nextBoolean())
          blocks += ((2, ZstdOps.literalsHeader(0, 8) ++
            "abcdEFGH".getBytes ++ Array[Byte](1, 0xFC.toByte, 0x03)))
        ZstdOps.encodeFrameWithBlocks(blocks.toSeq)
      },
      b => { val c = ZstdSeq.frameSeqCensus(b)
        // decodedBytes may legitimately EXCEED the input (that's
        // decompression) so it can't play the trailing-bytes slot
        (c.nDecoded.toLong + c.nUnsupported + c.nFailed, 0L) }),
    Fuzzed("iceberg-manifest",
      rnd => IcebergOps.syntheticManifest(rnd.nextInt(50).toLong),
      b => { val m = IcebergOps.parseManifest(b)
        (m.entries.size.toLong + m.nMalformedBlocks, m.trailingBytes) }),
    Fuzzed("iceberg-manifest-list",
      rnd => IcebergOps.syntheticTable(rnd.nextInt(50).toLong)._3,
      b => { val lm = IcebergOps.parseManifestList(b)
        // valid deliberately excluded: appended garbage flips it 1→0
        // while the walked prefix (the monotone quantity) is files
        (lm.files.size.toLong, 0L) }),
    Fuzzed("parquet-page-index",
      FuzzInputs.parquetPageIndex,
      b => {
        val rgs = ParquetFooter.pageIndexCensus(b, 0)
        (rgs.map {
          case Some(Some(pages)) => pages.size.toLong
          case Some(None) => 1L
          case None => 0L
        }.sum, 0L)
      },
      appendStable = false), // footer discovery starts at the file END
    Fuzzed("h264-sps",
      rnd => NalCensus.encodeSps(
        if (rnd.nextBoolean()) 100 else 66, 30 + rnd.nextInt(21),
        rnd.nextInt(120), rnd.nextInt(80), rnd.nextBoolean(),
        crop = if (rnd.nextBoolean())
          Some((rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(3)))
        else None),
      b => { val s = NalCensus.parseSps(b)
        ((s.ok + s.gated).toLong, 0L) }),
    Fuzzed("utf8",
      rnd => (1 to 20 + rnd.nextInt(60)).flatMap { _ =>
        rnd.nextInt(4) match {
          case 0 => Seq(rnd.nextInt(0x80))
          case 1 => val c = 0x80 + rnd.nextInt(0x780)
            Seq(0xC0 | (c >> 6), 0x80 | (c & 0x3F))
          case 2 => val c0 = 0x800 + rnd.nextInt(0xF800)
            val c = if (c0 >= 0xD800 && c0 <= 0xDFFF) 0xE000 else c0
            Seq(0xE0 | (c >> 12), 0x80 | ((c >> 6) & 0x3F), 0x80 | (c & 0x3F))
          case _ => val c = 0x10000 + rnd.nextInt(0x100000)
            Seq(0xF0 | (c >> 18), 0x80 | ((c >> 12) & 0x3F),
              0x80 | ((c >> 6) & 0x3F), 0x80 | (c & 0x3F))
        }
      }.map(_.toByte).toArray,
      b => { val m = TextCodec.utf8Audit(b); (m.nCodepoints, 0L) }),
    Fuzzed("snappy-framing",
      rnd => SnappyFrameOps.encodeSynthetic(
        (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(400)),
        (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(300)),
        if (rnd.nextBoolean()) rnd.nextInt(50) else 0),
      b => { val m = SnappyFrameOps.parse(b)
        (m.nCompressed.toLong + m.nUncompressed + m.nPadding + m.nSkippable +
          m.rawOk + m.rawFailed, m.trailingBytes) }),
    Fuzzed("snappy-raw",
      rnd => {
        val lit = Array.tabulate(1 + rnd.nextInt(300))(i => (i * 17 + 3).toByte)
        val ops = Seq(SnappyRaw.Lit(lit)) ++
          (0 until rnd.nextInt(4)).map(_ =>
            SnappyRaw.Copy(1 + rnd.nextInt(lit.length), 1 + rnd.nextInt(64)))
        SnappyRaw.encode(ops)
      },
      b => { val m = SnappyRaw.decode(b, 0, b.length)
        (m.ok.toLong + m.decoded + m.nLiterals + m.nCopies, 0L) },
      appendStable = false), // appended bytes violate exact-consumption
    Fuzzed("lz4-frame",
      rnd => {
        val litLen = 1 + rnd.nextInt(60)
        val blk = Lz4Ops.encodeBlock(Seq(
          (Array.tabulate(litLen)(i => (i * 11).toByte),
            Some((1 + rnd.nextInt(litLen), 4 + rnd.nextInt(20)))),
          (Array.tabulate(rnd.nextInt(20) + 1)(i => (i * 3).toByte), None)))
        Lz4Ops.encodeFrame(
          (0 until 1 + rnd.nextInt(3)).map(_ =>
            if (rnd.nextBoolean()) Left(blk)
            else Right(Array.tabulate(rnd.nextInt(40))(i => (i * 5).toByte))),
          blockChecksum = rnd.nextBoolean())
      },
      b => { val m = Lz4Ops.parse(b)
        (m.nCompressed.toLong + m.nStored + m.nDecodeFailed + m.blockCrcOk +
          m.blockCrcBad + m.valid, m.trailingBytes) }),
    Fuzzed("lz4-block",
      rnd => {
        val litLen = 1 + rnd.nextInt(300)
        Lz4Ops.encodeBlock(Seq(
          (Array.tabulate(litLen)(i => (i * 17 + 3).toByte),
            Some((1 + rnd.nextInt(litLen), 4 + rnd.nextInt(80)))),
          (Array.tabulate(1 + rnd.nextInt(30))(i => (i * 7).toByte), None)))
      },
      b => { val m = Lz4Ops.decodeBlock(b, 0, b.length, 1 << 16)
        (m.ok.toLong + m.decoded + m.nSequences, 0L) },
      appendStable = false), // appended bytes violate exact consumption
    Fuzzed("orc-tail",
      FuzzInputs.orcTail,
      b => { val m = OrcOps.parse(b)
        (m.nStripes.toLong + m.nTypes + m.valid + m.nColStats + m.nIntStats +
          m.offsetsMonotonic, 0L) },
      appendStable = false), // discovery starts at the file END, like ZIP
    Fuzzed("tfexample",
      rnd => TfRecordOps.encodeShard((0 until 1 + rnd.nextInt(4)).map(_ =>
        TfRecordOps.encodeExample(rnd.nextInt(4), rnd.nextInt(30),
          rnd.nextInt(5), (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(100000).toLong),
          rnd.nextBoolean()))),
      b => { val m = TfRecordOps.exampleCensus(b)
        (m.nExamples.toLong + m.nMalformed, 0L) }),
    Fuzzed("avro-ocf",
      rnd => AvroOps.encodeSynthetic(
        s"""{"type":"record","name":"t${rnd.nextInt(10)}","fields":[]}""",
        Seq("null", "deflate", "snappy", "zstandard")(rnd.nextInt(4)),
        (0 until rnd.nextInt(3)).map(i => (s"k$i", str(rnd, 5))),
        (0 until 1 + rnd.nextInt(5)).map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(400))),
        rnd.nextLong()),
      b => { val m = AvroOps.parse(b); (m.nMetaEntries.toLong + m.nBlocks, m.trailingBytes) }),
    Fuzzed("parquet-footer",
      FuzzInputs.parquetFooter,
      b => { val m = ParquetFooter.parse(b)
        (m.nSchema.toLong + m.nColumnChunks, math.max(0L, m.dataBytes)) },
      appendStable = false), // discovery starts at the file END, like ZIP
    Fuzzed("parquet-pages",
      FuzzInputs.parquetPages,
      b => { val d = ParquetPages.decodeInt64File(b, 0)
        (d.nValues + d.nNulls + d.nPages, 0L) },
      appendStable = false), // footer discovery starts at the file END
    Fuzzed("parquet-pages-binary",
      FuzzInputs.parquetPagesBinary,
      b => { val d = ParquetPages.decodeBinaryFile(b, 0)
        (d.nValues + d.nNulls + d.nPages, 0L) },
      appendStable = false), // footer discovery starts at the file END
    Fuzzed("orc-data",
      FuzzInputs.orcData,
      b => { val d = OrcData.decodeIntFile(b, 0)
        (d.nValues + d.nNulls + d.nStripes, 0L) },
      appendStable = false), // postscript discovery starts at the file END
    Fuzzed("orc-strings",
      FuzzInputs.orcStrings,
      b => { val d = OrcData.decodeStringFile(b, 0)
        (d.nValues + d.nNulls + d.nStripes, 0L) },
      appendStable = false), // postscript discovery starts at the file END
    Fuzzed("av1-ivf",
      rnd => {
        val p = rnd.nextInt(3)
        val seq = Av1Obu.encodeObu(1, Av1Obu.encodeSeqHdr(p,
          5 + rnd.nextInt(10), rnd.nextInt(2), 16L + rnd.nextInt(2000),
          16L + rnd.nextInt(2000),
          if (p == 2 && rnd.nextBoolean()) 12 else if (rnd.nextBoolean()) 10 else 8,
          mono = p != 1 && rnd.nextBoolean(), sb128 = rnd.nextBoolean(),
          still = rnd.nextBoolean(), reduced = rnd.nextBoolean()))
        val td = Av1Obu.encodeObu(2, Array.emptyByteArray)
        val fr = Av1Obu.encodeObu(6,
          Array.tabulate(5 + rnd.nextInt(40))(_ => rnd.nextInt(256).toByte))
        Av1Obu.encodeIvf(64, 64, (0 until 1 + rnd.nextInt(3)).map(i =>
          if (i == 0) td ++ seq ++ fr else td ++ fr))
      },
      b => { val m = Av1Obu.parseIvf(b)
        (m.nObus.toLong + m.nFramesWalked, 0L) },
      appendStable = false), // a garbage tail is a malformed frame header
    Fuzzed("webp",
      rnd => rnd.nextInt(3) match {
        case 0 => WebpOps.encodeLossy(1 + rnd.nextInt(1000), 1 + rnd.nextInt(1000),
          rnd.nextInt(100000).toLong, rnd.nextInt(200))
        case 1 => WebpOps.encodeLossless(1 + rnd.nextInt(16384), 1 + rnd.nextInt(16384),
          rnd.nextBoolean(), rnd.nextInt(200))
        case _ => WebpOps.encodeExtendedAnim(1 + rnd.nextInt(2000), 1 + rnd.nextInt(2000),
          rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean(),
          (0 until 1 + rnd.nextInt(4)).map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(80))))
      },
      b => { val m = WebpOps.parse(b); (m.nChunks.toLong, m.trailingBytes) }),
    // whole-input validating decoders: Option results — count is the
    // decoded unit count on Some, 0 on None; no trailing concept, and
    // append-stability does not apply (any malformation ⇒ None)
    Fuzzed("wav-pcm",
      rnd => AudioCodec.encodePcmWav(8000, 1 + rnd.nextInt(2),
        Array.fill(8 + rnd.nextInt(400))(rnd.nextInt(65536).toShort)),
      b => (AudioCodec.decodePcmWav(b).map(_._3.length.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("wav-adpcm",
      rnd => {
        val perBlock = 1 + rnd.nextInt(40)
        AudioCodec.encodeImaAdpcmWav(8000, (0 until 1 + rnd.nextInt(4)).map { i =>
          (rnd.nextInt(65536) - 32768, rnd.nextInt(89),
            Array.fill(if (i == 0) perBlock else 1 + rnd.nextInt(perBlock))(rnd.nextInt(16)))
        })
      },
      b => (AudioCodec.decodeImaAdpcmWav(b).map(_._3.length.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("wav-mulaw",
      rnd => AudioCodec.encodeMulawWav(8000, Array.fill(1 + rnd.nextInt(400))(rnd.nextInt(256))),
      b => (AudioCodec.decodeMulawWav(b).map(_._3.length.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("wav-alaw",
      rnd => AudioCodec.encodeAlawWav(8000, Array.fill(1 + rnd.nextInt(400))(rnd.nextInt(256))),
      b => (AudioCodec.decodeAlawWav(b).map(_._3.length.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("avi-dib",
      rnd => {
        val w = 4 + rnd.nextInt(9); val h = 4 + rnd.nextInt(7)
        VideoCodec.encodeDibAvi(w, h, 1 + rnd.nextInt(30),
          (0 until 1 + rnd.nextInt(3)).map(_ => Array.fill(w * h)(rnd.nextInt(256))))
      },
      b => (VideoCodec.decodeDibAvi(b).map(_._3.size.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("avi-rle8",
      rnd => {
        val w = 4 + rnd.nextInt(9); val h = 4 + rnd.nextInt(7)
        VideoCodec.encodeRle8Avi(w, h, 1 + rnd.nextInt(30),
          (0 until 1 + rnd.nextInt(3)).map(_ => Array.fill(w * h)(rnd.nextInt(256))))
      },
      b => (VideoCodec.decodeRle8Avi(b).map(_._3.size.toLong).getOrElse(0L), 0L),
      appendStable = false),
    Fuzzed("avi-mjpeg",
      rnd => {
        val w = 8 + rnd.nextInt(9); val h = 8 + rnd.nextInt(9)
        VideoCodec.encodeMjpegAvi(w, h, 1 + rnd.nextInt(30),
          (0 until 1 + rnd.nextInt(2)).map(_ => Array.fill(w * h)(rnd.nextInt(256))))
      },
      b => (VideoCodec.decodeMjpegAvi(b).map(_._3.size.toLong).getOrElse(0L), 0L),
      appendStable = false))

  private val Trials = 500
  private val WallBudgetNanos = 10L * 1000 * 1000 * 1000

  for (w <- walkers) {
    test(s"${w.name}: $Trials seeded mutations — no throw, no hang, fail-closed") {
      val rnd = new scala.util.Random(0xF00DL * 31 + w.name.hashCode)
      var base: Array[Byte] = null
      var baseCount = 0L
      for (trial <- 0 until Trials) {
        if (trial % 20 == 0) {
          base = w.gen(rnd)
          val (c, t) = w.parse(base)
          baseCount = c
          assert(t >= 0L && t <= base.length, s"${w.name}: valid base reports trailing $t of ${base.length}")
        }
        val (kind, mutant) = mutate(rnd, base)
        val t0 = System.nanoTime()
        val (count, trailing) =
          try w.parse(mutant)
          catch {
            case e: Throwable if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
              fail(s"${w.name} trial $trial kind $kind threw ${e.getClass.getName}: ${e.getMessage} " +
                s"(mutant ${mutant.length} B)")
          }
        val elapsed = System.nanoTime() - t0
        assert(elapsed < WallBudgetNanos,
          s"${w.name} trial $trial kind $kind took ${elapsed / 1e9}%.1f s on ${mutant.length} B — unbounded loop?")
        assert(count >= 0L,
          s"${w.name} trial $trial kind $kind: negative record count $count")
        assert(trailing >= 0L && trailing <= mutant.length,
          s"${w.name} trial $trial kind $kind: trailing $trailing outside [0, ${mutant.length}]")
        if (kind == 2)
          assert(count <= baseCount,
            s"${w.name} trial $trial: truncated prefix parsed $count records > base $baseCount — " +
              "a cut frame was guessed at instead of rolled back")
        if (kind == 3 && w.appendStable)
          assert(count >= baseCount,
            s"${w.name} trial $trial: appending garbage LOST records ($count < base $baseCount) — " +
              "the walked prefix must be independent of what follows")
      }
    }
  }
}
