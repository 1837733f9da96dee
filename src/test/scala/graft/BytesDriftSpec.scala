package graft

import org.scalatest.funsuite.AnyFunSuite

/** Binary formats read, write and reject bytes through one layer,
  * `graft.operators.Bytes`: a walker that grows its own fixed-width
  * helper or its own malformed-input signal has left the audited path.
  * Their payloads enter and leave DataFrames through one boundary,
  * `graft.operators.Payloads`.
  */
class BytesDriftSpec extends AnyFunSuite {

  private val main = Seq("src/main/scala")
  private val allowed = Set("Bytes.scala")

  test("only Bytes.scala declares a Malformed object") {
    assert(SourceScan.files(main).nonEmpty)
    val decl = """\bobject\s+\w*Malformed\b""".r.unanchored
    assert(SourceScan.offenders(main, allowed)(decl.matches).isEmpty)
  }

  test("only Bytes.scala defines byte and varint helpers") {
    val helper = ("""\bdef\s+(u8|le16|le24|le32|le64|be16|be24|be32|be64|""" +
      """u16le|u24le|u32le|varint|zigzag|avroLong)\b""").r.unanchored
    assert(SourceScan.offenders(main, allowed)(helper.matches).isEmpty)
  }

  test("only Payloads.scala builds or reads (id, payload) frames by hand") {
    // the sites whose shape is not Payloads': extractResponses emits many
    // rows per payload, q194/q366 and the q394 WARC archives encode the
    // documents' text, and q343's payload is a string
    val local = Map("WarcOps.scala" -> 1,
      "DataQueries.scala" -> 2, "CorpusQueries.scala" -> 2)
    val hit = (l: String) =>
      l.contains(".as[(Long, Array[Byte])]") || l.contains("""toDF("doc_id", "payload")""")
    val sites = SourceScan.offenders(main, Set("Payloads.scala"))(hit)
    val perFile = sites.groupBy(_.takeWhile(_ != ':').split('/').last).view.mapValues(_.size)
    assert(perFile.toMap == local, sites.mkString("\n"))
  }
}
