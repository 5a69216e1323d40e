package perfbench

import scala.util.Try

/** Measures every query of the registry `olap-curation` draws from
  * (`CoreQueries`, `DedupQueries`, `EmbeddingQueries`), so its subset can be
  * chosen by a stated rule (`perfbench/sample_queries.py`). One traced cold
  * pass in registry order, then two traced warm passes; each query is
  * materialized through the `noop` sink as in the workload. Writes one TSV
  * row per query.
  * Queries that stage fixtures write them where the program puts them, so
  * run it from a full repository checkout:
  *
  * {{{
  * python3 perfbench/run.py --survey
  * }}}
  */
object Survey {
  private final case class Sample(seconds: Double, build: Double, staging: Double,
                                  layers: LayerCounts, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val tracer = new Tracer(spark)
    tracer.attach()
    val queries = Workloads.registry
    val passes = (0 until 3).map { pass =>
      queries.map { q =>
        val staged0 = graft.perfbench.Staging.seconds
        val op = new Workloads.QueryOp(spark, q)
        tracer.begin()
        val t0 = System.nanoTime()
        val run = Try(op.run())
        val dt = (System.nanoTime() - t0) / 1e9
        val layers = tracer.end()
        spark.catalog.clearCache()
        run.failed.foreach(t => System.err.println(s"PERFBENCH survey ${q.name} threw $t"))
        System.err.println(f"PERFBENCH survey pass $pass ${q.name} $dt%.3f s")
        Sample(dt, run.getOrElse(0.0), graft.perfbench.Staging.seconds - staged0, layers,
          run.isSuccess)
      }
    }
    tracer.detach()
    spark.stop()

    val header = Seq("query", "ok", "staging_s", "cold_s", "warm_s", "build_s",
      "analysis_ms", "optimization_ms", "planning_ms", "compile_ms", "classes",
      "jobs", "stages", "tasks", "short_tasks", "task_run_s")
    val rows = queries.indices.map { i =>
      val cold = passes(0)(i)
      val warm = passes.tail.map(_(i))
      def mean(f: Sample => Double) = Stats.mean(warm.map(f))
      def layer(f: LayerCounts => Double) = mean(s => f(s.layers))
      Seq(queries(i).name, if (passes.forall(_(i).ok)) "1" else "0",
        f"${cold.staging}%.3f", f"${cold.seconds - cold.staging}%.3f",
        f"${mean(_.seconds)}%.3f", f"${mean(_.build)}%.3f",
        f"${layer(_.analysisMs.toDouble)}%.1f", f"${layer(_.optimizationMs.toDouble)}%.1f",
        f"${layer(_.planningMs.toDouble)}%.1f",
        f"${cold.layers.compileMs}%.1f", cold.layers.classesCompiled.toString,
        f"${layer(_.jobs.toDouble)}%.1f", f"${layer(_.stages.toDouble)}%.1f",
        f"${layer(_.tasks.toDouble)}%.1f", f"${layer(_.shortTasks.toDouble)}%.1f",
        f"${layer(_.taskRunMs / 1e3)}%.3f")
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try (header +: rows).foreach(r => w.println(r.mkString("\t"))) finally w.close()
  }
}
