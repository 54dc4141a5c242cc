package graft

/** Plan inspector: prints the formatted physical plan for selected catalog
  * queries (all of them with no args). Used to audit pushdown, broadcast
  * choice, and whole-stage-codegen coverage per round.
  *
  * Runs under [[PlanMode.explainOnly]]: operators that normally return an
  * eagerly-checkpointed frame (iterative clustering, the PQ/ADC family)
  * return their composed dataflow instead, so the printed plan shows the
  * real operators — joins, aggregates, broadcasts — rather than an opaque
  * `Scan ExistingRDD` over checkpoint blocks.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession.builder(4, Map.empty).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n======== $name ========")
      try PlanMode.explainOnly {
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: $e") }
      // drop anything a query registered (caches, checkpoint blocks from
      // trainer collects) so one query's state never colors the next plan
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
