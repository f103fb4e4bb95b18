package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bronze-layer reader (S7): recursive NDJSON(.gz) scan over hive-partitioned
  * prefixes `dt=YYYY-MM-DD/hour=HH/` — the shape Firehose lands
  * (`README.md:149-154`; read at `glue/bronze_to_silver_openweather.py:36-40`).
  *
  * Scale-first departures from the reference:
  *  - explicit contract schema by default — the reference's schema-less
  *    `spark.read.json` runs a FULL inference pass over the prefix before the
  *    real read (2 scans of 100 TB instead of 1);
  *  - `basePath` + partition-column discovery instead of recursiveFileLookup
  *    when pruning matters: with `dt`/`hour` as partition columns, a
  *    dt/hour predicate prunes directories at planning time and the
  *    FileSourceScan never lists the other partitions.
  */
object BronzeReader {

  /** Production read: explicit schema, no inference pass. */
  def readContract(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .json(path)

  /** Error-isolating read (T8): malformed lines are ROUTED, not dropped and
    * not fatal — PERMISSIVE mode captures the raw text of any unparseable
    * line in `_corrupt_record`, so the pipeline can split the stream into
    * (parsed rows, quarantined raw lines) with one scan and zero failed
    * tasks. Returns (good, bad): `good` carries the contract columns,
    * `bad` the raw offending lines for quarantine/replay. */
  def readWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType): (DataFrame, DataFrame) =
    splitQuarantine(parseQuarantine(spark, path, schema))

  /** [[readWithQuarantine]]'s single PERMISSIVE parse, cached: the two
    * splits must not re-read the source per branch with differing parse
    * results. The caller unpersists it once both splits are consumed. */
  private[graft] def parseQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType))
    spark.read.schema(withCorrupt)
      .option("recursiveFileLookup", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
  }

  /** (good, bad) of a [[parseQuarantine]] parse. */
  private[graft] def splitQuarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val good = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }

  /** The directory a (dt, hour) filter narrows the scan to — shared by the
    * partition-pruned and quarantine read paths. */
  def globFor(
      basePath: String,
      dtFilter: Option[String],
      hourFilter: Option[String]): String =
    (dtFilter, hourFilter) match {
      case (Some(dt), Some(h)) => s"$basePath/dt=$dt/hour=$h"
      case (Some(dt), None)    => s"$basePath/dt=$dt"
      case _                   => basePath
    }

  /** Partition-aware read: `dt`/`hour` become real partition columns so
    * `filter($"dt" === ... && $"hour" === ...)` prunes at file-listing time —
    * the advertised `--dt_filter`/`--hour_filter` semantics
    * (`README.md:188-190`) done right. */
  def readPartitioned(
      spark: SparkSession,
      basePath: String,
      schema: StructType,
      dtFilter: Option[String] = None,
      hourFilter: Option[String] = None): DataFrame =
    spark.read.schema(schema)
      .option("basePath", basePath)
      .json(globFor(basePath, dtFilter, hourFilter))
}
