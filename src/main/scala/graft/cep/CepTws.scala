package graft.cep

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, StatefulProcessorHandle, TTLConfig, TimeMode, TimerValues}

/** The CEP NFA on Spark 4's `transformWithState` — same transition
  * function as [[CepStream]] (the pure [[CepStream.emitAndEvict]]), the
  * successor state runtime:
  *
  *  - the event buffer is a named, Encoder-typed [[ListState]] in the
  *    RocksDB store (off-heap, changelog-checkpointed — the 10^12-turn
  *    state story, same argument as [[graft.snapshot.SnapshotTws]]);
  *  - idle-key flushes use REGISTERED EVENT-TIME TIMERS (one per pending
  *    horizon) instead of fMGWS's single timeout slot —
  *    `handleExpiredTimer` re-runs the same transition with no fresh
  *    rows, so a key whose pattern completed long ago still emits the
  *    moment the watermark passes its anchor's horizon;
  *  - a stale timer firing after its anchors were already flushed is a
  *    no-op by construction (anchors below the boundary are evicted in
  *    the pass that emits them); a pass registers its wake-up timer only
  *    when the key does not hold it yet ([[registerOnce]]).
  *
  * Streaming ≡ fMGWS ≡ batch is one shared transition checked by one
  * oracle (`cep_tws` reuses cep_pattern's SQL).
  */
object CepTws {

  implicit private val evEnc: Encoder[CepEvent] = Encoders.product[CepEvent]
  implicit private val outEnc: Encoder[CepMatch] = Encoders.product[CepMatch]
  implicit private val strEnc: Encoder[String] = Encoders.STRING

  /** Register an event-time timer for the current key unless it already
    * holds one at `ts`: a pass that finds the same earliest pending event
    * would otherwise ask again, and Spark refuses a duplicate with a WARN
    * after a wasted timer-state lookup.
    */
  private[cep] def registerOnce(handle: StatefulProcessorHandle, ts: Long): Unit =
    if (!handle.listTimers().exists(_ == ts)) handle.registerTimer(ts)

  final class CepProcessor(numSteps: Int, withinUs: Long)
      extends StatefulProcessor[String, CepEvent, CepMatch] {

    @transient private var buf: ListState[CepEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[CepEvent]("buf", evEnc, TTLConfig.NONE)

    private def pass(fresh: Seq[CepEvent], wmUs: Long): Iterator[CepMatch] = {
      val (out, kept) = CepStream.emitAndEvict(
        buf.get().toSeq, fresh, wmUs, numSteps, withinUs)
      buf.clear()
      if (kept.nonEmpty) {
        buf.appendList(kept.toArray)
        // wake this key when the earliest pending anchor's horizon passes
        CepTws.registerOnce(getHandle, (kept.map(_.tsUs).min + withinUs) / 1000L + 1L)
      }
      out.iterator
    }

    override def handleInputRows(key: String, rows: Iterator[CepEvent],
        timers: TimerValues): Iterator[CepMatch] =
      pass(rows.toSeq, timers.getCurrentWatermarkInMs() * 1000L)

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[CepMatch] =
      pass(Nil, timers.getCurrentWatermarkInMs() * 1000L)
  }

  /** Wire the TWS NFA over a watermarked [[CepEvent]] stream (same
    * contract as [[CepStream.matches]]; requires the RocksDB provider —
    * see [[graft.snapshot.SnapshotTws.withRocksDb]]).
    */
  def matches(events: Dataset[CepEvent], numSteps: Int, withinUs: Long)(
      implicit s: SparkSession): Dataset[CepMatch] =
    events.groupByKey(_.convId)
      .transformWithState(new CepProcessor(numSteps, withinUs),
        TimeMode.EventTime, OutputMode.Append, outEnc)
}
