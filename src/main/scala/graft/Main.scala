package graft

/** CLI entry point mirroring the reference's `__main__` surface
  * (/root/reference/unified_code.py:481–583): flag-for-flag
  * `--format`, `--chunk-size`, `--workers`, `--csv-separator` (:482–487)
  * plus the Archive variant's `--output-mode merge|chunks`
  * (Archive/unified_code.py:490), with `--test-mode` replacing the
  * interactive Y/N test-run gate (:509–525 — a CLI flag, not a prompt,
  * so it works non-interactively).
  *
  *   sbt "runMain graft.Main --input in.csv --output outdir \
  *        --format csv --csv-separator ; --output-mode merge --test-mode"
  *
  * `--workers` maps to local[N] cores (the reference's process pool
  * size, unified_code.py:406); on a real cluster the session comes
  * from spark-submit and the flag is ignored.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    def opt(k: String, d: String): String = opts.getOrElse(k, d)
    val input = opts.getOrElse("input",
      sys.error("--input <file> is required"))
    val output = opts.getOrElse("output",
      sys.error("--output <dir> is required"))
    val workers = opt("workers", Runtime.getRuntime.availableProcessors().toString)

    val spark = Session.local(workers, Map("spark.app.name" -> "graft-convert"))
    try {
      val stats = etl.Converter.convert(spark, input, output,
        etl.Converter.Config(
          format = opt("format", "csv"),
          csvSeparator = opt("csv-separator", ","),
          chunkSize = opt("chunk-size", "500").toInt,
          testMode = opts.contains("test-mode"),
          outputMode = opt("output-mode", "merge"),
          minify = !opts.contains("no-minify")))
      // the reference's end-of-run stats report (unified_code.py:383–388)
      println(s"""{"rows":${stats.rows},"files":${stats.files},"bytes":${stats.bytes}}""")
    } finally spark.stop()
  }

  private val flags = Set("test-mode", "no-minify")

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case key :: rest if key.startsWith("--") =>
        val k = key.stripPrefix("--")
        if (flags.contains(k)) parse(rest, acc + (k -> "true"))
        else rest match {
          case v :: tail => parse(tail, acc + (k -> v))
          case Nil => sys.error(s"missing value for --$k")
        }
      case other :: _ => sys.error(s"unexpected argument: $other")
    }
}
