package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Order-insensitive fingerprint of a result: the row count and two
  * wrapping sums of 64-bit row hashes (over each row's UnsafeRow bytes,
  * under two seeds).
  */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, h1 + o.h1, h2 + o.h2)
  override def toString: String = f"$rows:$h1%016x:$h2%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  /** Runs `df`'s physical plan and hashes every row it produces. Where
    * the `noop` sink discards rows, this sink folds them into a digest,
    * so the timed execution is also the checked one. The plan is the
    * one `df.queryExecution` already holds: forcing `executedPlan`
    * beforehand times planning on its own.
    */
  def of(df: DataFrame, label: String): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var a = 0L
        var b = 0L
        while (it.hasNext) {
          val u = proj(it.next())
          val (base, off, len) =
            (u.getBaseObject, u.getBaseOffset, u.getSizeInBytes)
          a += XXH64.hashUnsafeBytes(base, off, len, 42L)
          b += XXH64.hashUnsafeBytes(base, off, len, 0x5bd1e995L)
          n += 1
        }
        Iterator(Digest(n, a, b))
      }.collect().foldLeft(empty)(_ + _)
    }
  }
}
