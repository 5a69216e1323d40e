package graft

import java.nio.file.{Files, Paths}

/** Generates PLANS.md: a compact physical-plan summary per registered query
  * (join strategies, pushed filters, read schemas) —
  * the audit trail for the plan-quality claims in README/SURVEY §8.
  * Everything in it is generated; analyst notes on the plans are kept by
  * hand in plans/NOTES.md.
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outFile>"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.PlanDump at ")
      .append(sfDir).append(")\n\n")
    sb.append("Per query: join strategies chosen, filters pushed to the scan, ")
      .append("columns actually read.\n")
    SparkEntry.registry.sortBy(_.name).foreach { q =>
      try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        val joins = plan.linesIterator.flatMap { l =>
          Seq("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin",
            "ShuffledHashJoin").filter(l.contains)
        }.toSeq.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted
        val pushed = "PushedFilters: \\[[^\\]\n]*".r.findAllIn(plan)
          .map(_.take(100)).toSeq.distinct.filterNot(_.endsWith("PushedFilters: ["))
        val reads = "ReadSchema: [^\n]+".r.findAllIn(plan).map(_.take(100)).toSeq.distinct
        sb.append(s"\n## ${q.name}\n")
        sb.append(s"- joins: ${if (joins.isEmpty) "none" else joins.mkString(", ")}\n")
        pushed.foreach(p => sb.append(s"- $p]\n"))
        reads.foreach(r => sb.append(s"- $r\n"))
      } catch {
        case e: Throwable =>
          sb.append(s"\n## ${q.name}\n- plan unavailable: ${e.getMessage.take(80)}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
