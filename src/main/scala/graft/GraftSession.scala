package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session posture, shared by every main and the spec
  * suite:
  *  - master `local[cpus]`, unless SPARK_GRAFT_MASTER names another —
  *    e.g. `local-cluster[4,8,6144]` (4 executor JVMs x 8 cores x 6 g),
  *    a real process boundary that exercises the serialized shuffle
  *    fetch, broadcast transport and task-dispatch RPC that `local[N]`
  *    short-circuits (SCALE.md §r18; needs SPARK_HOME, from which the
  *    standalone worker builds the executor launch command);
  *  - `spark.sql.shuffle.partitions` from SPARK_GRAFT_SHUFFLE_PARTITIONS,
  *    default `cpus`. Decoupling it from the thread count (more, smaller
  *    partitions on fewer threads) caps the concurrent per-task memory
  *    footprint — the executor-sizing lever a capped-heap deployment
  *    turns first (SCALE.md §CC memory sizing) — and sets the state
  *    shard count for streaming queries;
  *  - UTC session time zone and `spark.sql.ansi.enabled=false`:
  *    null-on-failure division/cast semantics (SURVEY.md P4), matching
  *    the reference's `_coerce_*` helpers and DuckDB's float division;
  *  - UI off;
  *  - `spark.sql.codegen.cache.maxEntries=8192`: the default 100 entries
  *    is far below one catalog sweep's stage count, so a harness that
  *    times the same query across whole-catalog sweeps would otherwise
  *    pay janino recompilation on every sample (measured as a uniform
  *    ~1.45x inflation across the catalog).
  *
  * Returns the builder, so a caller chains its own extra settings before
  * `getOrCreate()`.
  */
object GraftSession {
  /** SPARK_GRAFT_CPUS, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The posture above at `cpus` threads; the two overrides are read from
    * `env` (pass `Map.empty` for the fixed `local[cpus]` posture). */
  def builder(cpus: Int,
              env: Map[String, String] = sys.env): SparkSession.Builder = {
    val master = env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
    // executor JVMs of a local-cluster master need the driver's classpath
    // (so graft classes resolve) and the JDK-17 module opens the forked
    // driver gets from build.sbt (without them Spark falls back to slow
    // non-Unsafe paths and some reflective accesses throw)
    if (!master.startsWith("local-cluster")) b
    else b
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
          "java.io", "java.net", "java.nio", "java.util",
          "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action",
          "sun.util.calendar")
          .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
          .mkString(" "))
  }
}
