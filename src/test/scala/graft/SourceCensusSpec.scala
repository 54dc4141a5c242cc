package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source-level census of the engine's session construction and env
  * options. The session posture lives in one place ([[GraftSession]]),
  * and each `SPARK_GRAFT_*` option is read only where it is documented:
  * a harness or knob that grows back fails here, not in a review.
  */
class SourceCensusSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to src/main/scala, code with comments removed). */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"$root missing (run from the repo root)")
    val it = Files.walk(root).iterator()
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(p => p.toString.endsWith(".scala")).toSeq
    files.map { p: Path =>
      val code = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      root.relativize(p).toString.replace('\\', '/') -> code
    }.sortBy(_._1)
  }

  /** Every env option each file may read. */
  private val allowedEnv: Map[String, Set[String]] = Map(
    "graft/GraftSession.scala" ->
      Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS"),
    "graft/Bench.scala" ->
      Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
        "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_OUT"),
    "graft/Verify.scala" -> Set.empty,
    "graft/Explain.scala" -> Set("SPARK_GRAFT_SF_DIR"),
    "graft/ScaleUp.scala" -> Set.empty,
    "graft/StreamLatency.scala" -> Set("SPARK_GRAFT_STREAM_LAT_OUT"),
    "graft/ops/DedupOps.scala" ->
      Set("SPARK_GRAFT_CC_EDGE_LEVEL", "SPARK_GRAFT_CC_LOG"))

  test("SparkSession.builder() is called only by GraftSession") {
    val sites = sources.collect {
      case (f, code) if f != "graft/GraftSession.scala" &&
        code.contains("SparkSession.builder()") => f
    }
    assert(sources.exists(_._2.contains("SparkSession.builder()")))
    assert(sites.isEmpty, s"session builders outside GraftSession: $sites")
  }

  test("SPARK_GRAFT_* options are read only where they are documented") {
    val lit = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
    val reads = sources.flatMap { case (f, code) =>
      lit.findAllMatchIn(code).map(m => f -> m.group(1))
    }.distinct
    val stray = reads.filterNot { case (f, name) =>
      allowedEnv.getOrElse(f, Set.empty[String])(name)
    }
    assert(stray.isEmpty, s"env options read outside the allowed set: $stray")
  }
}
