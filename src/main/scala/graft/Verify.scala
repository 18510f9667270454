package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local use;
    // the driver always passes exactly two args = full dump)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Fail LOUD on a broken query (VERDICT r5 "what's wrong" #3): a
    // swallowed exception left the query silently absent from the
    // driver's CORRECTNESS file, which then read as 100% pass. Now a
    // failure (a) still writes the query's dump dir, with an
    // `_ERROR.txt` marker instead of parquet, so the missing result is
    // visible in the artifact tree, and (b) is re-raised at the end so
    // the harness exits non-zero — no more green rounds over vanished
    // queries.
    val failures = scala.collection.mutable.ListBuffer.empty[(String, Throwable)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures += ((name, e))
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // clear any stale parquet from a previous successful run so the
        // driver can't read an old result as current
        d.listFiles().filter(_.isFile).foreach(_.delete())
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"),
          s"$name\n${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Core.jsonStr(k)}: ${Core.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Session.finish(spark, "verify", failures.map(_._1).toSeq)
  }
}
