package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Faithful reader surface for the reference's input formats
  * (waldfalke/catme-etl R1–R6, /root/reference/unified_code.py:164–242).
  *
  * The reference reads Excel/CSV in hand-scheduled row-range chunks
  * (`skiprows`/`nrows`, unified_code.py:200, 239) — an O(chunks²)
  * re-parse (SURVEY.md §4.3(1)). Here a read is a single declarative
  * scan: Spark's FileSourceScan splits the file into partitions by
  * `spark.sql.files.maxPartitionBytes` and each byte range is read
  * once, in parallel — the correct version of "chunking".
  *
  * Excel workbooks are read by [[graft.sources.XlsxSource]], a DSv2
  * `xlsx` source built on JDK zip + StAX (no POI jar is needed);
  * [[Converter]] dispatches `format = "xlsx"` to it, and the
  * multi-sheet + header-preserving semantics hold on both paths.
  */
object Readers {

  /** CSV read with the reference's configurable surface:
    * `--csv-separator` (unified_code.py:486,504), header row
    * (implicit in pandas default), type inference (pandas dtype
    * inference, unified_code.py:228). `multiLine` fixes the
    * reference's quoted-embedded-newline row-count bug
    * (unified_code.py:226, SURVEY.md §4.3(3)). */
  def csv(spark: SparkSession, path: String, sep: String = ",",
      header: Boolean = true, inferSchema: Boolean = true,
      multiLine: Boolean = true, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("sep", sep)
      .option("header", header)
      .option("multiLine", multiLine)
      .option("escape", "\"")
    val withSchema = schema match {
      case Some(st) => r.schema(st)
      case None => r.option("inferSchema", inferSchema)
    }
    withSchema.csv(path)
  }

  /** JSON / JSON-Lines read (the reference's own output format,
    * unified_code.py:343–362; reading a JSON array needs multiLine). */
  def json(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    spark.read.option("multiLine", multiLine).json(path)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Validate-by-analysis: the reference's 0-row probe parse
    * (`validate()`, unified_code.py:168–176, 209–217) maps to schema
    * resolution at plan time — returns false instead of raising,
    * like the reference. It remains the public 0-row probe (pinned by
    * `EtlSpec`) but is off the convert path: `Converter.convert` folds
    * validation into the schema resolution of its one real read. */
  def validate(spark: SparkSession, path: String, format: String): Boolean =
    try {
      format match {
        case "csv" => spark.read.option("header", true).csv(path).schema
        case "json" => spark.read.json(path).schema
        case _ => spark.read.format(format).load(path).schema
      }
      true
    } catch { case _: Exception => false }

  /** Metadata probe (R2/R5, unified_code.py:178–191, 219–230):
    * schema + row count. Unlike the reference this does NOT re-parse
    * per sheet — one count job over the scan. */
  def metadata(df: DataFrame): (StructType, Long) = (df.schema, df.count())
}
