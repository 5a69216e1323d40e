package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is listed in failed.txt next to oracle_sql.json and makes the
  * run exit 1, so no query can drop out of the gate silently. */
object Verify {
  /** Writes each query's result to `outDir/<name>` and returns
    * `name -> message` for every query that threw, in run order. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame]): Seq[(String, String)] =
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      // release operators' internally pinned relations (t12/t13 packing,
      // scalable surrogate keys) — same contract Bench applies per query
      finally spark.catalog.clearCache()
    }

  /** The failure manifest: one `name<TAB>message` line per failed query,
    * whitespace in the message collapsed so each entry stays one line.
    * Written even when empty, so a stale manifest never survives a rerun. */
  def writeFailed(outDir: String, failed: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/failed.txt"), failed.map { case (name, msg) =>
      s"$name\t${msg.replaceAll("\\s+", " ").take(500)}\n"
    }.mkString)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (the driver never sets it): run only the
    // named queries, e.g. SPARK_GRAFT_ONLY=t17_doc_chunking,src11_scd2
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    writeFailed(outDir, failed)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.map(_._1).mkString(", ") + s" (see $outDir/failed.txt)")
      sys.exit(1)
    }
  }
}
