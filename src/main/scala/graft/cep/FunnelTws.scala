package graft.cep

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Funnel progress of one key: `seen` once any event arrived, `ts` the
  * completion times (µs) of the steps completed so far (a prefix —
  * depth = ts.length).
  */
final case class FunnelState(seen: Boolean, ts: Seq[Long])

/** One emitted funnel row (Update semantics: the latest row per key is
  * the key's current funnel state — sink with a keyed MERGE).
  */
final case class FunnelRow(convId: String, ts: Seq[Long], depth: Int)

/** Streaming conversion funnel ([[Cep.funnel]] made continuous) on
  * transformWithState: per-key state is O(pattern length) — the step
  * completion times — plus a buffer bounded by watermark delay × rate.
  *
  * Why the buffer: funnel transitions are EVENT-TIME order sensitive (a
  * step-2 event arriving before the step-1 event that precedes it in
  * event time must still count). Events at or above the watermark may
  * still be reordered by late arrivals, so each pass folds only the
  * below-watermark prefix, in (ts, idx) order — the same finalization
  * discipline as [[CepStream]], with the horizon anchored at t1
  * (`within` of the FIRST step, matching the batch form). Processed
  * events are discarded: the fold never looks back.
  *
  * Emission is Update-mode: a row per key per batch in which the key was
  * first seen or advanced a step — the exactly-once keyed MERGE sink
  * collapses re-deliveries, and the final table equals the batch funnel.
  */
object FunnelTws {

  implicit private val evEnc: Encoder[CepEvent] = Encoders.product[CepEvent]
  implicit private val stEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
  implicit private val outEnc: Encoder[FunnelRow] = Encoders.product[FunnelRow]
  implicit private val strEnc: Encoder[String] = Encoders.STRING

  /** Pure fold: advance `state` through `events` (MUST be event-time
    * sorted, all finalized). Step j completes on the first event with
    * bit j set, strictly after t(j−1), and within `withinUs` of t1
    * (j ≥ 1); step 0 anchors the horizon.
    */
  def advance(state: Seq[Long], events: Seq[CepEvent], numSteps: Int,
      withinUs: Long): Seq[Long] = {
    var st = state
    events.foreach { e =>
      val d = st.length
      if (d < numSteps) {
        if (d == 0) {
          if ((e.mask & 1) != 0) st = Seq(e.tsUs)
        } else if ((e.mask & (1 << d)) != 0 && e.tsUs > st.last &&
            e.tsUs <= st.head + withinUs) {
          st = st :+ e.tsUs
        }
      }
    }
    st
  }

  final class FunnelProcessor(numSteps: Int, withinUs: Long)
      extends StatefulProcessor[String, CepEvent, FunnelRow] {

    @transient private var buf: ListState[CepEvent] = _
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[CepEvent]("buf", evEnc, TTLConfig.NONE)
      st = getHandle.getValueState[FunnelState]("funnel", stEnc, TTLConfig.NONE)
    }

    private def pass(key: String, fresh: Seq[CepEvent],
        wmUs: Long): Iterator[FunnelRow] = {
      val all = (buf.get().toSeq ++ fresh).sortBy(e => (e.tsUs, e.idx))
      val (ready, pending) = all.partition(_.tsUs < wmUs)
      val prev = if (st.exists()) st.get() else FunnelState(false, Nil)
      val ts = advance(prev.ts, ready, numSteps, withinUs)
      buf.clear()
      if (pending.nonEmpty) {
        buf.appendList(pending.toArray)
        // wake when the watermark passes the earliest pending event
        CepTws.registerOnce(getHandle, pending.map(_.tsUs).min / 1000L + 1L)
      }
      val seen = prev.seen || all.nonEmpty
      if (seen != prev.seen || ts != prev.ts) {
        st.update(FunnelState(seen, ts))
        Iterator.single(FunnelRow(key, ts, ts.length))
      } else Iterator.empty
    }

    override def handleInputRows(key: String, rows: Iterator[CepEvent],
        timers: TimerValues): Iterator[FunnelRow] =
      pass(key, rows.toSeq, timers.getCurrentWatermarkInMs() * 1000L)

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[FunnelRow] =
      pass(key, Nil, timers.getCurrentWatermarkInMs() * 1000L)
  }

  /** Wire the streaming funnel over a watermarked [[CepEvent]] stream
    * (RocksDB provider required — SnapshotTws.withRocksDb).
    */
  def updates(events: Dataset[CepEvent], numSteps: Int, withinUs: Long)(
      implicit s: SparkSession): Dataset[FunnelRow] =
    events.groupByKey(_.convId)
      .transformWithState(new FunnelProcessor(numSteps, withinUs),
        TimeMode.EventTime, OutputMode.Update, outEnc)
}
