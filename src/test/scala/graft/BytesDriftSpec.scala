package graft

import org.scalatest.funsuite.AnyFunSuite

/** Binary formats read, write and reject bytes through one layer,
  * `graft.operators.Bytes`: a walker that grows its own fixed-width
  * helper or its own malformed-input signal has left the audited path.
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
    val helper = ("""\bdef\s+(u8|le16|le24|le32|le64|be16|be32|be64|""" +
      """u16le|u24le|u32le|varint|zigzag|avroLong)\b""").r.unanchored
    assert(SourceScan.offenders(main, allowed)(helper.matches).isEmpty)
  }
}
