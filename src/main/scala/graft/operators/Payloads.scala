package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** The one boundary where binary payloads enter and leave a DataFrame
  * for the container walkers, codecs and lake-manifest readers: the
  * queries build `(doc_id, payload)` frames with [[synth]], and every
  * format's census reads them back with [[census]]. Format code stays
  * a plain `Array[Byte] => tuple` function behind [[Bytes]]; only this
  * object touches encoders. Both shapes are map-only — one
  * `DeserializeToObject → MapPartitions → SerializeFromObject` per
  * call, no exchange.
  */
object Payloads {

  /** One output row per input row: `row` gets the id (cast to bigint)
    * and the payload bytes, and returns the whole output tuple, id
    * first. The columns are named `idCol +: cols`.
    */
  def census[T <: Product : TypeTag](df: DataFrame, idCol: String, payloadCol: String,
      cols: String*)(row: (Long, Array[Byte]) => T): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => row(id, bytes) })
      .toDF(idCol +: cols: _*)
  }

  /** `(doc_id bigint, payload binary)`: one synthetic payload per id,
    * in the ids' own order and partitioning.
    */
  def synth(ids: Dataset[Long])(payload: Long => Array[Byte]): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.mapPartitions(_.map(id => (id, payload(id)))).toDF("doc_id", "payload")
  }
}
