package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** Ingestion surface (reference §2.1: CSV feeds S1/S2/S4, REST-JSON
  * records S3). Network fetch is the caller's concern (the reference
  * fetches with requests/pandas then re-reads files — we read whatever
  * landed); every reader pins an explicit schema so the scan prunes and
  * casts deterministically instead of inferring (SURVEY §1.2).
  */
object Sources {

  /** Rectangular records from an in-memory JSON payload — the REST
    * `epidata` array shape (reference S3: dags/flu_data_airflow_v2.py:
    * 263-278). The caller extracts the record array (success-flag check
    * included); we parallelize and parse with the pinned schema. For
    * payloads beyond driver memory, land them as files and read them
    * with Spark's JSON reader under the same schema.
    */
  def jsonRecords(spark: SparkSession, records: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).json(lines(spark, records))

  /** Driver-held text lines as a Dataset for the CSV/JSON readers,
    * parallelized as an RDD in `defaultParallelism` contiguous, ordered
    * slices. `createDataset(Seq)` would embed every line in the logical
    * plan as a `LocalRelation`, which each analyzer and optimizer rule
    * walks and which the readers' line filter then evaluates on the
    * driver.
    */
  private[sources] def lines(spark: SparkSession, xs: Seq[String]): Dataset[String] =
    spark.createDataset(spark.sparkContext.parallelize(xs))(Encoders.STRING)
}
