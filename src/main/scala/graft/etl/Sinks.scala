package graft.etl

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

/** Faithful sink surface for the reference's JSON outputs
  * (waldfalke/catme-etl R13–R15, R28;
  * /root/reference/unified_code.py:343–388,
  * Archive/unified_code.py:479–481, 583–601).
  *
  * - "chunks" mode (R13/R28): per-chunk files `chunk_i.json` →
  *   `df.write.json(dir)` part files. Partitioned output IS the
  *   native Spark shape; at 100 TB this is the only sane mode.
  * - "merge" mode (R14): one JSON array file, [[jsonArrayFile]]. The
  *   reference concatenates chunk files sorted lexicographically —
  *   permuting row order once there are ≥10 chunks (`sorted(glob)`,
  *   unified_code.py:357, SURVEY.md §4.3(2)). Here merge preserves
  *   input order by sorting on an explicit key, never on file names.
  * - minified vs pretty (R15, unified_code.py:365–388): JSON Lines is
  *   already the minified form (`separators=(',',':')` equivalent);
  *   `jsonArrayFile` writes the byte-parity single-array form with
  *   optional indent, non-ASCII passthrough (`ensure_ascii=False`,
  *   unified_code.py:350).
  *
  * The merge writer funnels through one task and the driver by
  * design — it exists for format parity with the reference, for
  * small results only (the reference itself materializes the whole
  * output in one process, unified_code.py:352–362).
  */
object Sinks {

  /** R13/R28 "chunks" mode: JSON Lines part files, replacing the
    * previous output like the reference's WIP cleanup (R25,
    * unified_code.py:28–36). The job writes a sibling
    * `<dir>.<uuid>.staging` dir, which is then swapped in: the old dir
    * is moved aside, the staging dir renamed to `dir` (the old one
    * moved back if that fails), and the old dir deleted. A failed run
    * leaves the previous output in place and no staging dir. */
  def jsonChunks(df: DataFrame, dir: String): Unit = {
    val target = Paths.get(dir).toAbsolutePath
    val id = UUID.randomUUID
    val staging = target.resolveSibling(s"${target.getFileName}.$id.staging")
    val old = target.resolveSibling(s"${target.getFileName}.$id.old")
    try {
      // keep null fields: python json.dump writes explicit nulls
      // (the injected `id = None`, unified_code.py:267), Spark drops
      // them by default
      df.write.option("ignoreNullFields", "false").json(staging.toString)
      if (crashBeforePublish) throw new RuntimeException("injected crash before publish")
      if (Files.exists(target)) Files.move(target, old)
      try Files.move(staging, target)
      catch { case e: Throwable =>
        if (Files.exists(old)) Files.move(old, target)
        throw e
      }
    } finally {
      FileUtils.deleteQuietly(staging.toFile)
      FileUtils.deleteQuietly(old.toFile)
    }
  }

  /** R14+R15 byte-parity sink: a single JSON *array* file, pretty
    * (indent=4, like json.dump(..., indent=4), unified_code.py:349)
    * or minified (separators=(',',':'), unified_code.py:377); UTF-8
    * passthrough (ensure_ascii=False). Driver-side wrap — small
    * results only (the driver never holds big data otherwise).
    *
    * The rows are collected to the driver anyway, so the sort runs in
    * one partition (same keys and null ordering as `orderBy`) rather
    * than range-partitioned, which would cost a bounds-sampling job.
    * Returns what was written: the rows in the array, one file and
    * its bytes (R15 size stats). The file is written as
    * `<path>.<uuid>.tmp` beside the target and renamed over it
    * atomically, so a failed run never destroys the previous output. */
  def jsonArrayFile(df: DataFrame, path: String, sortKeys: Seq[String],
      indent: Boolean = false): Metrics.WriteStats = {
    val rows = df.repartition(1).sortWithinPartitions(sortKeys.map(col): _*)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect().map(_.getString(0))
    val body =
      if (!indent) rows.mkString("[", ",", "]")
      else rows.map(reindent).mkString("[\n", ",\n", "\n]")
    val bytes = body.getBytes("UTF-8")
    // publish by rename: a crash mid-write leaves the previous good
    // file under `path`, never a truncated array
    val target = Paths.get(path)
    val tmp = target.resolveSibling(s"${target.getFileName}.${UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, bytes)
      if (crashBeforePublish) throw new RuntimeException("injected crash before publish")
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    Metrics.WriteStats(rows.length, 1, bytes.length)
  }

  /** Test-only failpoint: throw after [[jsonArrayFile]] or
    * [[jsonChunks]] has written its temp file or staging dir but
    * before it renames it over the target. Never set outside tests. */
  @volatile private[graft] var crashBeforePublish: Boolean = false

  /** Pretty-print one compact JSON object at indent level 1 (4 spaces),
    * matching python json.dump(indent=4) field layout for flat records. */
  private def reindent(compact: String): String = {
    val inner = compact.stripPrefix("{").stripSuffix("}")
    if (inner.isEmpty) "    {}"
    else {
      // split on top-level commas only (commas inside strings stay)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inStr = false; var esc = false
      inner.foreach { c =>
        if (esc) { sb += c; esc = false }
        else c match {
          case '\\' if inStr => sb += c; esc = true
          case '"' => sb += c; inStr = !inStr
          case ',' if !inStr => parts += sb.toString; sb.clear()
          case _ => sb += c
        }
      }
      parts += sb.toString
      parts.map(p => "        " + p.replaceFirst(":", ": "))
        .mkString("    {\n", ",\n", "\n    }")
    }
  }
}
