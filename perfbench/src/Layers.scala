package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, typedLit}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.TextHashFunctions._
import graft.functions.VectorFunctions._

/** Per-layer metrics derived from a [[Trace]]. */
object Layers {
  /** Scheduler counters of the traced pass (tags `t|<entry>|<phase>`). */
  def exec(m: mutable.Map[String, Double], trace: Trace,
           action: String => Boolean = t => t.startsWith("t|") &&
             t.endsWith("|action")): Unit = {
    val a = trace.sum(action)
    val all = trace.sum(t => action(t) || t.startsWith("t|"))
    m("exec.jobs") = a.jobs
    m("exec.stages") = a.stages
    m("exec.tasks") = a.tasks
    m("exec.task_run_s") = a.runMs / 1e3
    m("exec.task_cpu_s") = a.cpuNs / 1e9
    m("exec.task_gc_s") = a.gcMs / 1e3
    m("exec.sched_delay_s") = a.schedMs / 1e3
    m("exec.shuffle_write_bytes") = a.shuffleWrite
    m("exec.shuffle_read_bytes") = a.shuffleRead
    m("exec.spill_bytes") = a.spill
    m("queries.build_jobs") =
      trace.sum(t => t.startsWith("t|") && t.endsWith("|build")).jobs
    m("sources.input_bytes") = all.inBytes
    m("sources.input_rows") = all.inRows
  }

  /** Self time of each span kind, `trace.self.<kind>_s`. */
  def selfTimes(m: mutable.Map[String, Double], trace: Trace): Unit =
    trace.selfSeconds.foreach { case (k, v) => m(s"trace.self.${k}_s") = v }
}

/** Each `graft.functions` kernel timed alone over the workload's
  * documents (4 copies) or embeddings (40 copies), cached in one
  * partition: a kernel's cost per row is the median time of projecting
  * the kernel (its output hashed by the digest sink) minus the median
  * time of projecting a constant over the same cached rows. Parameters
  * are the dedup operators' defaults.
  */
object Kernels {
  private val reps = 5

  private def medianNs(df: DataFrame, label: String): Double =
    Ctx.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Digest.of(df, label)
      (System.nanoTime() - t0).toDouble
    })

  def time(spark: SparkSession, dir: String,
           m: mutable.Map[String, Double]): Unit = {
    def copies(df: DataFrame, n: Int): DataFrame =
      df.crossJoin(spark.range(n).withColumnRenamed("id", "_copy"))
        .drop("_copy").coalesce(1).cache()
    val docs = copies(Tables.documents(spark, dir).select(col("text")), 4)
    val embs = copies(Tables.embeddings(spark, dir)
      .select(col("embedding"), quantize_vec(col("embedding")).as("q")), 40)
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val cents: Array[Array[Long]] = embs.select(col("q")).limit(8)
      .collect().map(_.getSeq[Long](0).toArray)
    val vocab = new java.util.HashMap[UTF8String, java.lang.Long]()
    Seq("a", "the", "data", "spark", "stream", "value", "window", "key")
      .zipWithIndex.foreach { case (w, i) =>
        vocab.put(UTF8String.fromString(w), Long.box(-1000000L * (i + 2)))
      }
    val kernels: Seq[(String, DataFrame, Double, Column)] = Seq(
      ("minhash_sigs", docs, nDocs, minhash_sigs(col("text"), 3, 16)),
      ("simhash64", docs, nDocs, simhash64(col("text"), 3)),
      ("winnow_fps", docs, nDocs, winnow_fps(col("text"), 4, 4)),
      ("word_shingles", docs, nDocs, word_shingles(col("text"), 3)),
      ("bigram_pairs", docs, nDocs, bigram_pairs(col("text"))),
      ("unigram_qsum", docs, nDocs,
        unigram_qsum(col("text"), vocab, -12000000L)),
      ("dot_product", embs, nEmbs,
        dot_product(col("embedding"), col("embedding"))),
      ("quantize_vec", embs, nEmbs, quantize_vec(col("embedding"))),
      ("argmin_sq_dist", embs, nEmbs,
        argmin_sq_dist(col("q"), typedLit(cents))))
    val baseDocs = medianNs(docs.select(lit(1)), "base docs")
    val baseEmbs = medianNs(embs.select(lit(1)), "base embs")
    kernels.foreach { case (name, in, n, k) =>
      val ns = medianNs(in.select(k.as("k")), s"kernel $name")
      val base = if (in eq docs) baseDocs else baseEmbs
      m(s"functions.$name.ns_per_row") = math.max(0.0, ns - base) / n
    }
    docs.unpersist(true)
    embs.unpersist(true)
  }
}
