package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Characterization of the Ogg and FLAC walkers: [[WalkerFuzzSpec]]'s
  * seeded inputs for the four audio generators (the same bases and
  * mutants, in the same order) run through every Ogg and FLAC census,
  * and each census's full outputs fold into one SHA-256, pinned below.
  * The corpus bytes are pinned too, so the synthetic writers cannot
  * drift unseen. A change to how the pages and metadata blocks are
  * read or written shows here as a digest change.
  */
class AudioWalkGoldenSpec extends AnyFunSuite {

  private val Trials = 500

  /** WalkerFuzzSpec's sequence: a fresh base every 20 trials, one
    * mutant per trial, from the walker's own seed.
    */
  private lazy val corpus: Vector[(String, Array[Byte])] =
    FuzzInputs.audio.toVector.flatMap { case (name, gen) =>
      val rnd = new scala.util.Random(0xF00DL * 31 + name.hashCode)
      var base: Array[Byte] = null
      (0 until Trials).toVector.flatMap { trial =>
        val b =
          if (trial % 20 == 0) { base = gen(rnd); Vector(s"$name/$trial/base" -> base) }
          else Vector.empty
        b :+ (s"$name/$trial" -> FuzzInputs.mutate(rnd, base)._2)
      }
    }

  private val consumers: Seq[(String, Array[Byte] => Any)] = Seq(
    "corpus bytes" -> (b => b),
    "FlacOps.parse" -> (b => FlacOps.parse(b)),
    "OggOps.parse" -> (b => OggOps.parse(b)),
    "OggOps.codecMeta" -> (b => OggOps.codecMeta(b)),
    "OggOps.opusTocCensus" -> (b => OggOps.opusTocCensus(b)))

  /** Digests computed before the FLAC and Ogg fixed-width reads and
    * writes moved onto the `Bytes` helpers.
    */
  private val Pinned: Map[String, String] = Map(
    "corpus bytes" ->
      "16ced525204cd330c2c172618fee7c37064432b58de3a74ad1f9444d4bcee1d2",
    "FlacOps.parse" ->
      "a1c951d702d91cb6d79081b0fa55a07206633df336c96313bcadc4f3770e6288",
    "OggOps.parse" ->
      "1958baa49b9a1d3c5cca36f1809acde6c1d233bfaccc68cb2d613a1e633ce38f",
    "OggOps.codecMeta" ->
      "123dfa633d5d13d2e3bad47897362b79fcc08f553408a0673a2a39d2b4249e55",
    "OggOps.opusTocCensus" ->
      "12ac45093716217b1c698ecf2286bafb985dfa0a24ced7059e1b049c308361c5")

  test("the corpus holds every audio generator's bases and 500 mutants each") {
    FuzzInputs.audio.foreach { case (n, _) =>
      assert(corpus.count(c => c._1.startsWith(n + "/") && !c._1.endsWith("/base")) == Trials, n)
    }
  }

  for ((name, f) <- consumers) test(s"$name: outputs match the pinned digest") {
    val got = CensusDigest.digest(corpus)(b => Seq(CensusDigest.guarded(f(b))))
    assert(got == Pinned.getOrElse(name, ""), s"$name digest $got")
  }
}
