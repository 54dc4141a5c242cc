package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the engine's [[GraftSession]] posture
  * (UTC, non-ANSI null-on-failure semantics) at a fixed `local[4]` with 4
  * shuffle partitions — no env overrides, so a spec's layout never
  * depends on the caller's shell.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, Map.empty).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
