package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's end-to-end conversion lifecycle as one API — what
  * `DataConverter.convert` + the CLI flow do
  * (/root/reference/unified_code.py:413–478 scheduler, :481–583 CLI):
  * discover/validate input → read → 4-stage pipeline → JSON output
  * (merged or partitioned) → size stats.
  *
  * One pass per conversion: the input is read once, by the write.
  *  - the reference's validate probe is folded into the schema
  *    resolution the real read already does: a read that cannot
  *    resolve raises `input failed validation` before anything is
  *    written (`Readers.validate` stays the public 0-row probe);
  *  - rows/files/bytes come from the sink itself — chunks mode from
  *    the write's own commit metrics (`Metrics.collectWriteStats`),
  *    merge mode from the array `Sinks.jsonArrayFile` collects and
  *    writes — never from a re-count or a directory listing.
  *
  * Deliberate differences from the reference (SURVEY.md §4.3):
  *  - no O(chunks²) re-parsing: one declarative scan, partition-parallel;
  *  - no silent chunk loss: a failing task fails the job (vs
  *    unified_code.py:469–472 logging-and-dropping);
  *  - output order is an explicit sort key, not lexicographic file
  *    names (vs unified_code.py:357);
  *  - resume = re-run: the atomic overwrite commit makes re-runs
  *    idempotent, replacing the SQLite checkpoint table whose
  *    CLI-path resume was broken anyway (unified_code.py:407 vs :490).
  */
object Converter {

  /** Mirrors the reference's CLI surface: `--format`, `--csv-separator`
    * (unified_code.py:482–487), `--output-mode merge|chunks`
    * (Archive/unified_code.py:490), test mode (:509–525), minify
    * (:365–388). `chunkSize` maps to the test-mode row budget — real
    * chunking is Spark's partitioning. */
  final case class Config(
      format: String = "csv",
      csvSeparator: String = ",",
      header: Boolean = true,
      multiLine: Boolean = true,
      chunkSize: Int = 500,
      testMode: Boolean = false,
      outputMode: String = "merge",
      minify: Boolean = true,
      sortKeys: Seq[String] = Nil)

  final case class Stats(rows: Long, files: Int, bytes: Long)

  /** Full conversion: returns the reference's R15-style size stats. */
  def convert(spark: SparkSession, inputPath: String, outputDir: String,
      cfg: Config = Config()): Stats = {
    // a bad Config fails before any Spark work
    val read: () => DataFrame = cfg.format match {
      case "csv" => () => Readers.csv(spark, inputPath, cfg.csvSeparator, cfg.header,
        multiLine = cfg.multiLine)
      case "json" => () => Readers.json(spark, inputPath)
      case "parquet" => () => Readers.parquet(spark, inputPath)
      // Excel-proper (reference R3/R27 dispatch, unified_code.py:193–202):
      // the self-contained OOXML reader; multi-sheet workbooks surface
      // every sheet with its sheet_name column, like the reference's
      // per-sheet iteration
      case "xlsx" => () => spark.read.format("xlsx").load(inputPath)
      case f => throw new IllegalArgumentException(s"unsupported format: $f")
    }
    val write: DataFrame => Metrics.WriteStats = cfg.outputMode match {
      case "chunks" => df =>                             // R13/R28
        Metrics.collectWriteStats(spark)(Sinks.jsonChunks(df, outputDir))._2
      case "merge" => df =>                              // R14/R15
        val keys = if (cfg.sortKeys.nonEmpty) cfg.sortKeys else df.columns.headOption.toSeq
        new java.io.File(outputDir).mkdirs()
        Sinks.jsonArrayFile(df, s"$outputDir/output.json", keys, indent = !cfg.minify)
      case m => throw new IllegalArgumentException(s"unsupported output mode: $m")
    }
    // R1/R4 validation: the read resolves its schema eagerly, so an
    // unreadable input fails here, before anything is written
    val raw = try read() catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"input failed validation: $inputPath", e)
    }
    val staged = Pipeline.run(raw)                       // R8–R11
    val written = write(
      if (cfg.testMode) Pipeline.testMode(staged, cfg.chunkSize) else staged)
    Stats(written.rows, written.files.toInt, written.bytes)
  }
}
