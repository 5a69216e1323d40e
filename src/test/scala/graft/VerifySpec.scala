package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("a throwing query lands in the failure manifest; its neighbour still writes") {
    val out = Files.createTempDirectory("verify-fail-loud").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good_query" -> ((s, _) => s.range(3).toDF("id")),
      "throwing_query" -> ((_, _) => throw new IllegalStateException("injected\tfailure\nline two")))
    val failed = Verify.dump(spark, "unused", out, queries)
    assert(failed.map(_._1) == Seq("throwing_query"))
    Verify.writeFailed(out, failed)
    val manifest = Files.readString(Paths.get(out, "failed.txt"))
    assert(manifest == "throwing_query\tinjected failure line two\n")
    assert(spark.read.parquet(s"$out/good_query").count() == 3)
    assert(!Files.exists(Paths.get(out, "throwing_query")))
  }
}
