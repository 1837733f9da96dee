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

  /** Header CSV with pinned schema (reference S1/S2/S4:
    * dags/flu_data_airflow_v2.py:72,219,322-324). Malformed numerics
    * become null — the behavior clean_percentage standardizes anyway.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines file with pinned schema. */
  def jsonFile(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Rectangular records from an in-memory JSON payload — the REST
    * `epidata` array shape (reference S3: dags/flu_data_airflow_v2.py:
    * 263-278). The caller extracts the record array (success-flag check
    * included); we parallelize and parse with the pinned schema. For
    * payloads beyond driver memory, land them as files and use
    * `jsonFile`.
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

  /** ORC with pinned schema — the columnar interchange a lake
    * migration encounters (Hive-era tables). Same pushdown/pruning
    * properties as parquet through Spark's vectorized ORC reader.
    */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** CSV read with a bad-row quarantine: (good, bad). Rows that fail
    * the pinned schema parse land in `bad` VERBATIM (the raw line plus
    * its source file), instead of silently nulling out (PERMISSIVE, the
    * `csv` reader above — right for the reference's known feeds) or
    * killing a 100 TB ingest hours in (FAILFAST). Production pipelines
    * quarantine: the job completes on the parsable majority while the
    * reject file preserves every original byte for replay after the
    * upstream fix.
    *
    * One scan serves both outputs: the parse runs PERMISSIVE with
    * `columnNameOfCorruptRecord` capturing raw text on failed rows —
    * `good` filters it null, `bad` filters it set. (Spark requires the
    * corrupt-record column selected for it to be populated; both
    * branches project it away from their results.)
    */
  def csvWithQuarantine(spark: SparkSession, path: String,
                        schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val corrupt = "_graft_corrupt"
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corrupt, org.apache.spark.sql.types.StringType))
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(withCorrupt)
      .csv(path)
      // input_file_name() is only defined inside the scan task — resolve
      // it BEFORE the cache boundary or quarantined rows lose provenance
      .withColumn("_graft_file", input_file_name())
      .cache() // one parse feeds both branches
    val good = raw.filter(col(corrupt).isNull).select(schema.fieldNames.map(col): _*)
    val bad = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"), col("_graft_file").as("source_file"))
    (good, bad)
  }
}
