package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads travel as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs
  * per-partition over the raw bytes (the Scala analogue of arrow-batched
  * decode UDFs: one iterator pass per partition, typed output schema,
  * no per-row task overhead).
  *
  * The decode step here is a STUB only for the entropy-coded payload
  * of codecs this environment genuinely lacks (MP3/AAC Huffman/MDCT,
  * H.264/VP9) — the "features" are deterministic byte-level facts
  * (length, header bytes, md5). The boundary moved one notch in r9:
  * MP3 *frame headers* are closed-form bit fields, so triage metadata
  * (duration, bitrate plan, CBR/VBR, ID3 overhead) is REAL via
  * [[MpegAudio]]'s header walk (q314, adversarial-input spec'd) —
  * only the entropy decode itself remains out of scope. Each modality has a REAL decode path for its lossless
  * format: images via [[MultimodalCodec]] (JDK-native `javax.imageio`
  * with pixel-true resize + perceptual hashing, oracle-gated on PNG in
  * q174/q175, spec-proven on lossy JPEG where no arithmetic oracle is
  * possible), audio via [[AudioCodec]] (RIFF/WAVE 16-bit PCM
  * chunk-walk with sample-exact stats + a gain-invariant envelope
  * hash, q177/q178), and video via [[VideoCodec]] (RIFF/AVI
  * uncompressed-DIB frame decode with exact temporal motion energy,
  * q179). The Spark-side shape here stays the template a further
  * codec would drop into without touching the plumbing.
  */
object MultimodalStub {

  /** Attach an opaque binary payload column derived from a string column
    * (stand-in for reading image/audio bytes).
    */
  def attachPayload(df: DataFrame, srcCol: String, payloadCol: String): DataFrame =
    df.withColumn(payloadCol, encode(col(srcCol), "UTF-8"))

  /** Feature extraction over binary payloads:
    * (id, n_bytes, header_hex = first 4 bytes, content_md5).
    *
    * Built-in expressions (`length`/`hex(substring)`/`md5` over the
    * binary column) — fully whole-stage-codegen'd, one projection over
    * the scan, no serialization boundary.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as(idCol),
      length(col(payloadCol)).cast("long").as("n_bytes"),
      lower(hex(substring(col(payloadCol), 1, 4))).as("header_hex"),
      md5(col(payloadCol)).as("content_md5"))
}
