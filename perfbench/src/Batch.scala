package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.queries.Catalog

/** The two batch workloads: named catalog entries, each built, planned
  * and executed through the digest sink.
  *
  * Set-up runs every entry once at the workload's own scale, writes its
  * result as parquet for the DuckDB oracle check `run.py` makes, and
  * records the digest of that written result. Every later execution
  * must reproduce that digest; one that throws or does not is a failure
  * and never yields a timing.
  */
object Batch {
  /** Single-pass declarative plans from CoreQueries, SeriesQueries and
    * StatsQueries (all prod posture): the reference's batch layer and EDA.
    */
  val lambdaBatch: Seq[String] = Seq(
    "a1a4_windowed_metrics", "j2_full_outer_metrics", "ta_indicators",
    "approx_tdigest_quantiles")

  /** The forecast and ml training entries: 6-9 s cold plus 2-4 s warm
    * each at 4 cores, too dear for every timed run, so only the traced
    * run executes them.
    */
  val lambdaTraced: Seq[String] = Seq("x5_ar_trainer", "x8_tfidf_ridge")

  /** Multi-job iterative operators (connected components, Lloyd/PQ
    * rounds) and per-row text-hash and vector kernel consumers.
    */
  val dedupAnn: Seq[String] = Seq("dedup_clusters", "ivfpq_2level_topk")

  private lazy val catalog = Catalog.queries

  private val loaders: Map[String, (SparkSession, String) => DataFrame] =
    Map("region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Build, plan and action nanoseconds and process CPU nanoseconds of
    * one execution.
    */
  final case class Sample(build: Long, plan: Long, action: Long, cpu: Long) {
    def total: Long = build + plan + action
  }

  /** Bench's per-entry storage sweep: drop cached tables and persisted
    * RDDs (localCheckpoint blocks included) and collect, outside every
    * timer.
    */
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  final class Runner(ctx: Ctx, names: Seq[String], dir: String) {
    private val res = ctx.res
    val refs = mutable.Map[String, Digest]()
    val broken = mutable.Set[String]()

    private def failed(name: String, op: String, why: String): Unit = {
      broken += name
      res.fail(s"$name/$op", why)
    }

    /** First set-up execution: result to parquet, its digest as the
      * reference every later execution must reproduce.
      */
    def record(spark: SparkSession, outDir: String): Unit = names.foreach {
      name =>
        res.attempted += 1
        try {
          val path = s"$outDir/$name"
          val t0 = System.nanoTime()
          catalog(name)(spark, dir)
            .write.mode("overwrite").parquet(path)
          refs(name) = Digest.of(spark.read.parquet(path), s"ref $name")
          log(f"setup $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch {
          case NonFatal(e) => failed(name, "setup", e.toString)
        } finally sweep(spark)
    }

    /** One checked execution of every entry, in `order`. */
    def pass(spark: SparkSession, order: Seq[String], trace: Trace,
             label: String): Map[String, Sample] = trace.span("pass", label) {
      order.filterNot(broken).flatMap { name =>
        trace.span("entry", s"$label|$name") {
          once(spark, name, trace, s"$label|$name").map(name -> _)
        }
      }.toMap
    }

    def once(spark: SparkSession, name: String, trace: Trace,
             tag: String): Option[Sample] = {
      res.attempted += 1
      try {
        val c0 = Ctx.cpuNs
        val t0 = System.nanoTime()
        val df = trace.span("build", s"$tag|build") {
          trace.tag(spark, s"$tag|build")
          catalog(name)(spark, dir)
        }
        val t1 = System.nanoTime()
        trace.span("plan", s"$tag|plan") {
          trace.tag(spark, s"$tag|plan")
          df.queryExecution.executedPlan
        }
        val t2 = System.nanoTime()
        val d = trace.span("action", s"$tag|action") {
          trace.tag(spark, s"$tag|action")
          Digest.of(df, name)
        }
        val t3 = System.nanoTime()
        val cpu = Ctx.cpuNs - c0
        log(f"$tag ${(t3 - t0) / 1e9}%.3f s")
        if (refs.get(name).contains(d))
          Some(Sample(t1 - t0, t2 - t1, t3 - t2, cpu))
        else {
          failed(name, tag, s"digest $d differs from set-up ${refs.get(name)}")
          None
        }
      } catch {
        case NonFatal(e) => failed(name, tag, e.toString); None
      } finally {
        if (trace.on) spark.sparkContext.clearJobGroup()
        sweep(spark)
      }
    }
  }

  def run(spark0: SparkSession, ctx: Ctx): Unit = {
    val lambda = ctx.workload == "lambda_batch"
    val timed = if (lambda) lambdaBatch else dedupAnn
    val extra = if (lambda && ctx.trace) lambdaTraced else Nil
    val names = timed ++ extra
    val dir = ctx.inputs
    val res = ctx.res
    val runner = new Runner(ctx, names, dir)
    val oracleDir = s"${ctx.out}/oracle"
    Files.createDirectories(Paths.get(oracleDir))
    var spark = spark0
    val off = new Trace(false)

    runner.record(spark, oracleDir)
    writeOracleSql(names.filterNot(runner.broken), oracleDir)
    val order = new scala.util.Random(ctx.seed).shuffle(timed)

    res.timedStart()
    val passes = mutable.ArrayBuffer[Map[String, Sample]]()
    val (gc0, jit0, tStart) = (Ctx.gcMs, Ctx.jitMs, System.nanoTime())
    // whole passes until --seconds have elapsed, and at least two, so
    // every entry's median rests on the same number of samples
    while (passes.size < 2 ||
        (System.nanoTime() - tStart) / 1e9 < ctx.seconds)
      passes += runner.pass(spark, order, off, s"p${passes.size}")
    val live = timed.filterNot(runner.broken)
    val perEntry = live.map(n => n -> passes.flatMap(_.get(n))).toMap
    def med(f: Sample => Long)(n: String): Double =
      Ctx.median(perEntry(n).map(s => f(s) / 1e9).toSeq)
    val m = res.metrics
    m("wall_s") = live.map(med(_.total)).sum
    m("cpu_s") = live.map(med(_.cpu)).sum
    // an op is one pass over the catalog entries
    m("op_p50_ms") = Ctx.median(passes.map(_.values.map(_.total).sum / 1e6)
      .toSeq)

    if (ctx.trace) {
      m("jvm.gc_s") = (Ctx.gcMs - gc0) / 1e3 / passes.size
      m("jvm.jit_s") = (Ctx.jitMs - jit0) / 1e3 / passes.size
      // the last timed pass is the untraced twin of the traced one
      val quiet = passes.last
      val wallU = quiet.values.map(_.total).sum / 1e9
      val trace = new Trace(true)
      trace.attach(spark)
      val cg0 = org.apache.spark.perfbench.SparkShim.codegenCompiles
      val traced = runner.pass(spark, order ++ extra, trace, "t")
      m("exec.codegen_compiles") =
        org.apache.spark.perfbench.SparkShim.codegenCompiles - cg0
      trace.detach(spark)
      m("trace.overhead_s") = traced.collect {
        case (n, t) if quiet.contains(n) => t.total
      }.sum / 1e9 - wallU
      m("queries.build_s") = quiet.values.map(_.build).sum / 1e9
      m("exec.plan_s") = quiet.values.map(_.plan).sum / 1e9
      m("exec.action_s") = quiet.values.map(_.action).sum / 1e9
      Layers.exec(m, trace)
      if (lambda) {
        m("forecast.x5_ar_trainer.s") =
          traced.get("x5_ar_trainer").map(_.total / 1e9).getOrElse(0.0)
        m("ml.x8_tfidf_ridge.s") =
          traced.get("x8_tfidf_ridge").map(_.total / 1e9).getOrElse(0.0)
      } else timed.foreach { n =>
        m(s"ops.$n.s") = quiet.get(n).map(_.total / 1e9).getOrElse(0.0)
        m(s"ops.$n.jobs") = trace.sum(_.startsWith(s"t|$n|")).jobs
      }
      val tables = if (lambda) loaders.keys.toSeq.sorted
        else Seq("documents", "embeddings")
      m("sources.scan_s") = tables.map { t =>
        val t0 = System.nanoTime()
        Digest.of(loaders(t)(spark, dir), s"scan $t")
        val dt = (System.nanoTime() - t0) / 1e9
        Batch.sweep(spark)
        dt
      }.sum
      if (!lambda) Kernels.time(spark, dir, m)
      trace.write(s"${ctx.out}/trace_spans.jsonl")
      Layers.selfTimes(m, trace)

      // the same checked pass on one core: exec.scaling_4v1 and the
      // core-count invariance of every digest
      spark.stop()
      spark = Ctx.session(1, ctx.work)
      val one = runner.pass(spark, order, off, "c1")
      m("exec.scaling_4v1") = one.values.map(_.total).sum / 1e9 / wallU
    }
  }

  /** The oracle SQL of each entry, as `{name: sql}` JSON. */
  private def writeOracleSql(names: Seq[String], dir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.flatMap(n => Catalog.oracles.get(n).map(n -> _))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json)
  }
}
