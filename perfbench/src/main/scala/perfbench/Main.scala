package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one process, one closed-loop client issuing ops one at
  * a time on a `Sessions.local(nproc)` session.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Set-up runs from JVM start to the first timed op: the session, the
  * workload's input preparation and one cold pass over the workload's ops,
  * which loads classes, JIT-compiles and fills the generated-class cache.
  * Timed passes follow until their ops add up to `--seconds`, and at least
  * three run. Every timed op's output is checked after its timed bracket.
  * The last stdout line is the result: end-to-end metrics untraced,
  * per-layer metrics with `--trace 1`.
  *
  * A traced run traces the cold pass, which runs the same ops as an
  * untraced one. Its timed passes run the staged op sequence: pass 1 warms
  * the staged plans and is not traced, then untraced and traced
  * passes alternate, starting and ending untraced, so the untraced ones
  * give the tracing overhead.
  */
object Main {
  final case class OpResult(name: String, seconds: Double, buildSeconds: Double,
                            ok: Boolean, leaked: Int, layers: Option[LayerCounts])
  final case class PassResult(traced: Boolean, ops: Seq[OpResult]) {
    /** The workload's own ops, without the watched queries. */
    def traffic: Seq[OpResult] = ops.filterNot(_.name.startsWith(Workloads.watchPrefix))
    def wall: Double = traffic.map(_.seconds).sum
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(args.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = sys.props("perfbench.work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local(cpus.toString)
    workload.prepare(spark, s"$work/data", seed)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val heap = if (trace) Some(new OldGenPeak) else None
    val cold = runPass(spark, workload, seed, 0, staged = false, tracer, check = false)
    val setupSeconds = (System.currentTimeMillis() - jvmStart) / 1e3

    val timed = mutable.ArrayBuffer.empty[PassResult]
    val minPasses = if (trace) 4 else 3
    while (timed.length < minPasses || timed.map(_.wall).sum < seconds ||
           (trace && timed.length % 2 == 1)) {
      val no = timed.length + 1
      timed += runPass(spark, workload, seed, no, staged = trace,
        if (no >= 3 && no % 2 == 1) tracer else None, check = true)
    }
    tracer.foreach(_.detach())
    heap.foreach(_.close())

    val all = timed.flatMap(_.ops)
    val failed = all.count(!_.ok)
    val metrics =
      if (!trace) Metrics.endToEnd(setupSeconds, timed.toSeq)
      else Metrics.perLayer(cold, timed.toSeq, heap.fold(0L)(_.peakBytes))
    val env = Seq(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"), "nproc" -> cpus.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
      "timed_passes" -> timed.length.toString,
      "ops_per_pass" -> cold.ops.length.toString)
    println(Json.obj(Seq("env" -> Json.obj(env))))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> all.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  /** Pass 0 is the cold pass of set-up: timed for `setup_s`, not checked. */
  private def runPass(spark: SparkSession, w: Workload, seed: Long, no: Int, staged: Boolean,
                      tracer: Option[Tracer], check: Boolean): PassResult = {
    val sc = spark.sparkContext
    val expected = Expected.load(w.name)
    val ops = w.pass(spark, seed, no, staged).map { op =>
      val before = sc.getPersistentRDDs.keySet
      tracer.foreach(_.begin())
      val t0 = System.nanoTime()
      val run = try Right(op.run()) catch { case t: Throwable => Left(t) }
      val dt = (System.nanoTime() - t0) / 1e9
      val layers = tracer.map(_.end())
      val leaked = (sc.getPersistentRDDs.keySet -- before).size
      val problem = run match {
        case Left(t) => Some(s"threw ${t.getClass.getName}: ${t.getMessage}")
        case Right(_) if check =>
          try op.invariants().orElse(op.outputs().flatMap { case (k, df) =>
            expected.compare(k, Fingerprint.of(df))
          }.headOption)
          catch { case t: Throwable => Some(s"check threw $t") }
        case Right(_) => None
      }
      System.err.println(f"PERFBENCH op pass $no ${op.name} $dt%.3f s")
      problem.foreach(p => System.err.println(s"PERFBENCH FAIL pass $no ${op.name}: $p"))
      if (w.releaseEachOp) spark.catalog.clearCache()
      OpResult(op.name, dt, run.getOrElse(0.0), problem.isEmpty, leaked, layers)
    }
    spark.catalog.clearCache()
    PassResult(tracer.isDefined, ops)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Metrics {
  type Metric = (String, Double, String)
  import Main.PassResult

  def endToEnd(setupSeconds: Double, timed: Seq[PassResult]): Seq[Metric] = Seq(
    ("setup_s", setupSeconds, "s"),
    ("wall_s", Stats.median(timed.map(_.wall)), "s"))

  /** Per-pass means over the traced timed passes. Codegen and the cold pass
    * come from the traced cold pass: timed passes reuse its generated
    * classes. The tracing overhead leaves out timed pass 1, the staged
    * warm-up.
    */
  def perLayer(cold: PassResult, timed: Seq[PassResult], peakHeapBytes: Long): Seq[Metric] = {
    val traced = timed.filter(_.traced)
    def perPass(f: PassResult => Double): Double = Stats.mean(traced.map(f))
    def layers(p: PassResult) = p.traffic.flatMap(_.layers)
    def layer(f: LayerCounts => Double): Double = perPass(layers(_).map(f).sum)
    def peak(f: LayerCounts => Long): Double = perPass(layers(_).map(f).max / 1048576.0)
    def opTime(name: String): Double = perPass(_.ops.filter(_.name == name).map(_.seconds).sum)
    def wall(traced: Boolean) =
      Stats.median(timed.drop(1).filter(_.traced == traced).map(_.wall))
    val tasks = layer(_.tasks.toDouble)
    Seq(
      ("sources.csv_scan_s", opTime("sources.csv_scan"), "s"),
      ("sources.input_bytes", layer(_.inputBytes.toDouble), "bytes"),
      ("sources.parquet_bytes_written", layer(_.outputBytes.toDouble), "bytes"),
      ("pipeline.build_s", opTime("pipeline.build"), "s"),
      ("pipeline.dim_peak_s", opTime("transform.DIM_Peak"), "s"),
      ("pipeline.dim_expedition_s", opTime("transform.DIM_Expedition"), "s"),
      ("pipeline.dim_date_s", opTime("transform.DIM_Date"), "s"),
      ("pipeline.dim_country_indicator_s", opTime("transform.DIM_CountryIndicator"), "s"),
      ("pipeline.fact_member_expedition_s", opTime("transform.FACT_MemberExpedition"), "s"),
      ("pipeline.load_s", opTime("pipeline.load"), "s"),
      ("operators.single_task_stage_s", layer(_.singleTaskStageMs / 1e3), "s"),
      ("queries.build_s", perPass(_.traffic.map(_.buildSeconds).sum), "s"),
      ("queries.exec_s", perPass(_.traffic.map(o => o.seconds - o.buildSeconds).sum), "s"),
      ("catalyst.analysis_ms", layer(_.analysisMs.toDouble), "ms"),
      ("catalyst.optimization_ms", layer(_.optimizationMs.toDouble), "ms"),
      ("catalyst.planning_ms", layer(_.planningMs.toDouble), "ms"),
      ("codegen.compile_ms", layers(cold).map(_.compileMs).sum, "ms"),
      ("codegen.classes_compiled", layers(cold).map(_.classesCompiled.toDouble).sum, "count"),
      ("jvm.cold_pass_s", cold.wall, "s"),
      ("scheduler.jobs", layer(_.jobs.toDouble), "count"),
      ("scheduler.stages", layer(_.stages.toDouble), "count"),
      ("scheduler.tasks", tasks, "count"),
      ("exec.short_task_share", if (tasks > 0) layer(_.shortTasks.toDouble) / tasks else 0.0, "ratio"),
      ("exec.task_run_s", layer(_.taskRunMs / 1e3), "s"),
      ("exec.task_cpu_s", layer(_.taskCpuNs / 1e9), "s"),
      ("exec.gc_s", layer(_.gcMs / 1e3), "s"),
      ("shuffle.write_bytes", layer(_.shuffleWriteBytes.toDouble), "bytes"),
      ("shuffle.read_bytes", layer(_.shuffleReadBytes.toDouble), "bytes"),
      ("shuffle.fetch_wait_s", layer(_.fetchWaitMs / 1e3), "s"),
      ("memory.spill_bytes", layer(_.spillBytes.toDouble), "bytes"),
      ("memory.peak_exec_mb", peak(_.peakExecBytes), "MiB"),
      ("memory.peak_heap_mb", peakHeapBytes / 1048576.0, "MiB"),
      ("cache.blocks_evicted", layer(_.blocksEvicted.toDouble), "count"),
      ("cache.peak_storage_mb", peak(_.peakStorageBytes), "MiB"),
      ("cache.leaked_entries", perPass(_.traffic.map(_.leaked.toDouble).sum), "count"),
      ("trace.overhead_s", wall(traced = true) - wall(traced = false), "s")
    ) ++ Workloads.all.flatMap(_.watched).map { q =>
      (s"query.${q}_s", opTime(Workloads.watchPrefix + q), "s")
    }
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
