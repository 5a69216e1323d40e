package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.HimalayanPipeline
import graft.queries.{CoreQueries, DedupQueries, EmbeddingQueries, GraftQuery}
import graft.sources.CsvSource

/** One timed operation. `run` does the work inside the timed bracket and
  * returns the seconds it spent building the plan (the rest of the bracket
  * is execution). After the bracket the harness fingerprints `outputs`
  * against the committed expectations and runs `invariants`.
  */
trait Op {
  def name: String
  def run(): Double
  /** Results to fingerprint, each under its key in `expected/<workload>.tsv`. */
  def outputs(): Seq[(String, DataFrame)]
  /** Structural checks beyond the fingerprints; a message on failure. */
  def invariants(): Option[String] = None
}

/** A named set of inputs and the ops one pass issues over them. */
trait Workload {
  def name: String
  /** Queries release their session caches after each op, as `graft.Bench`
    * does; the pipeline's loads share its caches until the pass ends.
    */
  def releaseEachOp: Boolean
  /** Makes the inputs under `dir`; timed as part of `setup_s`. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit
  /** The ops of one pass; `staged` splits the pipeline at layer boundaries
    * for the traced run.
    */
  def pass(spark: SparkSession, seed: Long, passNo: Int, staged: Boolean): Seq[Op]
  /** Queries the traced run's staged passes add after the workload's own
    * ops, as `watch.<name>` ops, to report their times as `query.<name>_s`.
    * They are not part of the workload's traffic or its layer metrics.
    */
  def watched: Seq[String]
}

object Workloads {
  /** The queries `olap-curation` draws from: relational, dedup, embedding. */
  val registry: Seq[GraftQuery] = CoreQueries.all ++ DedupQueries.all ++ EmbeddingQueries.all

  val all: Seq[Workload] = Seq(EtlStar, OlapCuration)
  def byName(name: String): Option[Workload] = all.find(_.name == name)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The sf0.1 testdata tables, read only, from the home directory. */
  val sfDir: String = s"${sys.props("user.home")}/testdata/sf0.1"

  /** A registered query materialized through the `noop` sink, as
    * `graft.Bench` times it.
    */
  final class QueryOp(spark: SparkSession, q: GraftQuery, val name: String) extends Op {
    def this(spark: SparkSession, q: GraftQuery) = this(spark, q, q.name)
    private var df: DataFrame = _
    def run(): Double = {
      val t0 = System.nanoTime()
      df = q.fn(spark, sfDir)
      val build = secondsSince(t0)
      noop(df)
      build
    }
    def outputs(): Seq[(String, DataFrame)] = Seq(q.name -> df)
  }

  val watchPrefix = "watch."

  private def query(name: String): GraftQuery =
    registry.find(_.name == name).getOrElse(sys.error(s"no registered query $name"))

  /** The read-only query path: short relational queries of `CoreQueries`,
    * where Catalyst planning, codegen and per-stage scheduling are a large
    * share of each op, next to the curation queries that run the native
    * expressions of `graft.plans` and the NearDup and ANN operators of
    * `graft.ext`. The queries are a stratified sample of the registry,
    * chosen by `perfbench/sample_queries.py` from `perfbench/survey.tsv`.
    */
  object OlapCuration extends Workload {
    val name = "olap-curation"
    val releaseEachOp = true
    val watched: Seq[String] =
      Seq("d10_incremental_neardup", "d21_cluster_group_split", "q61_bfs_levels")
    private val queries = Seq(
      "d02_ngram_jaccard", "d06_dedup_clusters", "d19_contamination_coverage",
      "e19_cell_balanced_sample", "q05_anti_join", "q33_small_quantity",
      "q36_array_agg", "q40_kmv_distinct", "q42_hash_split", "q51_unpivot",
      "q55_cohort_retention").map(query)

    def prepare(spark: SparkSession, dir: String, seed: Long): Unit =
      graft.Tables.names.foreach(t => graft.Tables.load(spark, sfDir, t).schema)

    def pass(spark: SparkSession, seed: Long, passNo: Int, staged: Boolean): Seq[Op] =
      new scala.util.Random(seed * 7919 + passNo).shuffle(queries.map(new QueryOp(spark, _))) ++
        (if (staged) watched.map(n => new QueryOp(spark, query(n), watchPrefix + n)) else Nil)
  }

  /** The paper's pipeline as a user runs it: `CsvSource.read` x4, then
    * `HimalayanPipeline.build`, then `writeParquet`, one table per op. The
    * staged pass of the traced run materializes the extract and each
    * transform through the `noop` sink before the load.
    */
  object EtlStar extends Workload {
    val name = "etl-star"
    val releaseEachOp = false
    val watched: Seq[String] = Nil
    private var inputs: EtlInputs.Paths = _
    private var outDir: String = _
    private val tableOrder = Seq("DIM_Peak", "DIM_Expedition", "DIM_Date",
      "DIM_CountryIndicator", "FACT_MemberExpedition")

    def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
      inputs = EtlInputs.write(s"$dir/inputs", seed)
      outDir = s"$dir/warehouse"
    }

    private def extract(spark: SparkSession): Seq[DataFrame] = {
      def read(path: String, schema: org.apache.spark.sql.types.StructType) =
        CsvSource.read(spark, path, schema, schema.fieldNames.toSeq, requireRows = true)
      Seq(read(inputs.members, EtlInputs.stringSchema(EtlInputs.memberColumns)),
        read(inputs.expeditions, EtlInputs.stringSchema(EtlInputs.expeditionColumns)),
        read(inputs.peaks, EtlInputs.stringSchema(EtlInputs.peakColumns)),
        read(inputs.worldBank, EtlInputs.worldBankSchema))
    }

    def pass(spark: SparkSession, seed: Long, passNo: Int, staged: Boolean): Seq[Op] = {
      val v = EtlInputs.variant(seed)
      // a warehouse of the pass's own, so the checks read only what this
      // pass's loads wrote
      val out = s"$outDir/pass$passNo"
      var tables: Map[String, DataFrame] = null
      def build(raw: Seq[DataFrame]): Unit = {
        val Seq(m, e, p, wb) = raw
        tables = HimalayanPipeline.build(m, e, p, wb)
      }
      // FACT ids follow (ExpeditionId, LastName, FirstName), which ties on
      // namesakes, so tied rows may swap ids between runs: its fingerprint
      // leaves Id out and keyCheck pins the ids to 1..n instead
      def keyed(t: String, df: DataFrame) =
        s"v$v.$t" -> (if (t == "FACT_MemberExpedition") df.drop("Id") else df)
      def loaded(ts: Seq[String]) = ts.map(t => keyed(t, spark.read.parquet(s"$out/$t")))
      def op(n: String, outs: => Seq[(String, DataFrame)], inv: => Option[String])(
          body: => Double): Op = new Op {
        def name: String = n
        def run(): Double = body
        def outputs(): Seq[(String, DataFrame)] = outs
        override def invariants(): Option[String] = inv
      }
      if (!staged) {
        val extractOp = op("extract", Nil, None) {
          val t0 = System.nanoTime()
          build(extract(spark))
          secondsSince(t0)
        }
        extractOp +: tableOrder.map { t =>
          op(s"load.$t", loaded(Seq(t)), keyCheck(spark, out, t)) {
            HimalayanPipeline.writeParquet(Map(t -> tables(t)), out)
            0.0
          }
        }
      } else {
        var raw: Seq[DataFrame] = Nil
        val scanOp = op("sources.csv_scan", Nil, None) {
          val t0 = System.nanoTime()
          raw = extract(spark)
          val b = secondsSince(t0)
          raw.foreach(noop)
          b
        }
        val buildOp = op("pipeline.build", Nil, None) {
          val t0 = System.nanoTime()
          build(raw)
          secondsSince(t0)
        }
        val transforms = tableOrder.map { t =>
          op(s"transform.$t", Seq(keyed(t, tables(t))), None) { noop(tables(t)); 0.0 }
        }
        val load = op("pipeline.load", loaded(tableOrder),
            tableOrder.flatMap(keyCheck(spark, out, _)).headOption) {
          HimalayanPipeline.writeParquet(tables, out)
          0.0
        }
        Seq(scanOp, buildOp) ++ transforms :+ load
      }
    }

    /** Surrogate keys are exactly 1..n; every non-null fact foreign key
      * resolves in the dimension written before it.
      */
    private def keyCheck(spark: SparkSession, out: String, t: String): Option[String] = {
      def read(name: String) = spark.read.parquet(s"$out/$name")
      def dense(name: String): Option[String] = {
        val r = read(name).agg(count(lit(1)), countDistinct(col("Id")), min(col("Id")),
          max(col("Id"))).head()
        val n = r.getLong(0)
        if (n == 0 || r.getLong(1) != n || r.getInt(2) != 1 || r.getInt(3) != n)
          Some(s"$name ids are not exactly 1..$n: ${r.mkString(",")}")
        else None
      }
      def resolves(fk: String, dim: String): Option[String] = {
        val fact = read(t).filter(col(fk).isNotNull).select(col(fk).as("k"))
        val dangling = fact.join(read(dim).select(col("Id").as("k")), Seq("k"), "left_anti").count()
        if (dangling > 0) Some(s"$t.$fk: $dangling values do not resolve in $dim") else None
      }
      t match {
        case "DIM_Date" | "DIM_CountryIndicator" => dense(t)
        case "FACT_MemberExpedition" => dense(t)
          .orElse(resolves("DateId", "DIM_Date"))
          .orElse(resolves("CountryIndicatorId", "DIM_CountryIndicator"))
        case _ => None
      }
    }
  }
}

/** Order-independent fingerprint of a result: its row count and the sum of
  * per-row `xxhash64` over all columns (maps hashed through `to_json`).
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}

/** Expected fingerprints, committed beside the benchmark as
  * `expected/<workload>.tsv` lines of `<key>\t<fingerprint>`.
  */
final class Expected(path: String, entries: Map[String, String]) {
  def compare(key: String, got: String): Option[String] = entries.get(key) match {
    case Some(want) if want == got => None
    case Some(want) => Some(s"$key: fingerprint $got, expected $want")
    case None => Some(s"$key: no expected fingerprint in $path")
  }
}

object Expected {
  def file(workload: String): File =
    new File(s"${sys.props("perfbench.home")}/expected/$workload.tsv")

  def load(workload: String): Expected = {
    val f = file(workload)
    val entries =
      if (!f.exists) Map.empty[String, String]
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).map { l =>
          val Array(k, v) = l.split("\t")
          k -> v
        }.toMap
        finally src.close()
      }
    new Expected(f.getPath, entries)
  }

  /** Rewrites every workload's expectations from the program as it is:
    * one pass per query workload and one per pipeline input variant.
    * Run through `python3 perfbench/run.py --write-expected`.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val work = sys.props("perfbench.work")
    Workloads.all.foreach { w =>
      val seeds = if (w == Workloads.EtlStar) (0 until EtlInputs.variants).map(_.toLong) else Seq(0L)
      val lines = seeds.flatMap { seed =>
        w.prepare(spark, s"$work/${w.name}-$seed", seed)
        Seq(false, true).flatMap(staged => w.pass(spark, seed, 1, staged)).flatMap { op =>
          op.run()
          val fps = op.outputs().map { case (k, df) => s"$k\t${Fingerprint.of(df)}" }
          if (w.releaseEachOp) spark.catalog.clearCache()
          fps
        }
      }.distinct.sorted
      val out = new java.io.PrintWriter(file(w.name), "UTF-8")
      try lines.foreach(out.println) finally out.close()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
