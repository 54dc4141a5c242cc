package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** Late-data observability for the watermarked streams (T4).
  *
  * The speed layer reproduces Beam's allowed_lateness=0 semantics
  * (dataflow/stream_join.py:479-524): a row arriving after the watermark
  * has passed its window is dropped, silently. The reference logs its
  * operational counters per poll (stream_join.py:194-203); this is the
  * matching surface for the one event that never reaches a sink — without
  * it, watermark misconfiguration (or an upstream clock skew) looks
  * exactly like "traffic went down".
  *
  * Spark already meters the drop: every stateful operator reports
  * `numRowsDroppedByWatermark` in its per-batch progress. Granularity
  * caveat: the count is taken where the drop happens — at the state
  * store, AFTER map-side partial aggregation — so several same-batch
  * late rows for one (window, key) group count as ONE dropped state
  * update. For the J1 cogroup
  * ([[StreamingMetrics.cogroupedMetricsSink]]) the unit is a
  * (window, user_id) partial: late rows of every event type for one user
  * and window collapse into it. It is a did-we-lose-data signal (nonzero
  * iff something late was discarded), not a raw-row census. This listener
  * folds those per-batch counts into a cumulative per-query counter —
  * O(queries) driver state, nothing added to the executor path, so the
  * cost at 100 TB is zero: the metric piggybacks on progress events the
  * driver already emits.
  *
  * Two read paths:
  *  - attach a [[LateDataMonitor]] via `spark.streams.addListener` for a
  *    continuously-updated cumulative count (the production monitoring
  *    hook — progress events arrive on the listener bus, asynchronously);
  *  - [[LateDataMonitor.droppedByWatermark]] reads a query's own
  *    `recentProgress` synchronously (no listener registration) for
  *    ad-hoc checks and tests.
  */
final class LateDataMonitor extends StreamingQueryListener {

  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  private def key(name: String, id: java.util.UUID): String =
    if (name != null && name.nonEmpty) name else id.toString

  override def onQueryStarted(
      event: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val d = LateDataMonitor.droppedInProgress(p)
    if (d > 0)
      counts.merge(key(p.name, p.id), d, (a, b) => a + b)
  }

  override def onQueryTerminated(
      event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Cumulative rows dropped by watermark for a query (by `queryName`,
    * falling back to the query id when unnamed) since this listener was
    * attached. 0 for unknown queries.
    */
  def droppedRows(nameOrId: String): Long =
    Option(counts.get(nameOrId)).map(_.longValue()).getOrElse(0L)
}

object LateDataMonitor {

  private[streaming] def droppedInProgress(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.numRowsDroppedByWatermark).sum

  /** Synchronous read: total rows dropped by watermark across the
    * query's retained `recentProgress` (default 100 batches — pair with
    * the listener for lifetime totals on long-running queries).
    */
  def droppedByWatermark(query: StreamingQuery): Long =
    query.recentProgress.map(droppedInProgress).sum
}
