package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming conversion funnel: per-user ordered-step tracking with
  * `flatMapGroupsWithState` — the streaming twin of the batch
  * `Funnel.conversion`. [[trackUnordered]] needs no ordering contract
  * from its source: per-step candidate state + a revision log make the
  * final counts exact under arbitrary cross-batch reordering, with state
  * O(#users), never O(events) — the same bound that makes
  * StatefulSessions safe at scale. [[debounce]] is the streaming burst
  * collapse.
  */
object StatefulFunnel {

  /** Streaming burst collapse (debounce): emit only the head event of
    * every gap-delimited burst per key — the streaming twin of
    * `Sessionize.burstCollapse`, with state = ONE timestamp per key
    * (the current burst's maximum). Exact under in-order delivery (each
    * batch's events are processed in (ts, tie) order; cross-batch order
    * holds when the source is time-ordered, e.g. replayed logs or a
    * watermarked upstream).
    */
  case class KeyedEvent(key: String, ts: java.sql.Timestamp, tie: Long)
  case class BurstHead(key: String, ts: java.sql.Timestamp, tie: Long)

  def debounce(events: Dataset[KeyedEvent], gapMicros: Long)
      : Dataset[BurstHead] = {
    implicit val eh = Encoders.product[BurstHead]
    implicit val el = Encoders.scalaLong
    implicit val ek = Encoders.STRING
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Long, BurstHead](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedEvent], state: GroupState[Long]) =>
          val evs = it.toArray.sortBy(e => (micros(e.ts), e.tie))
          // Long.MinValue = "no burst open yet"
          var lastMax = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[BurstHead]
          evs.foreach { e =>
            val t = micros(e.ts)
            if (lastMax == Long.MinValue || t > lastMax + gapMicros)
              out += BurstHead(key, e.ts, e.tie)
            if (t > lastMax) lastMax = t
          }
          state.update(lastMax)
          out.iterator
      }
  }

  /** `step` is the 0-based index into the funnel's step list; map and
    * filter event types BEFORE the stateful operator so state never
    * sees irrelevant events.
    */
  case class StepEvent(key: Long, ts: java.sql.Timestamp, step: Int)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** One funnel-progress revision: `reached` steps were complete for
    * `key` as of revision `rev`. Later revisions supersede earlier ones
    * (take `max_by(reached, rev)` per key downstream) — late data can
    * both ADVANCE a funnel (a missing middle step arrives) and RETRACT
    * one (an earlier anchor event shifts the window left, expelling a
    * previously counted completion), so an append-only per-step row
    * stream cannot express the correction; a revision log can.
    */
  case class FunnelRev(key: Long, rev: Int, reached: Int)

  /** [[trackUnordered]]'s state per revision: the anchor (earliest
    * step-1 time, MaxValue = none yet) plus, per later step, the
    * surviving candidate event times. Candidates above `t1 + window`
    * are pruned permanently: the anchor only ever moves EARLIER, so the
    * window's right edge only moves left and a time beyond it can never
    * become feasible again. Times below the current resolution must be
    * kept — they are exactly the ones a leftward-shifting window makes
    * feasible.
    */
  case class UState(t1: Long, cands: Seq[Seq[Long]], rev: Int,
                    lastReached: Int)

  /** Out-of-order-tolerant funnel: exact under ARBITRARY cross-batch
    * reordering (no in-order delivery contract), at the price of
    * revision-log output and per-step candidate state.
    *
    * Semantics match the batch `Funnel.conversion` on the final
    * revision: step 1 anchors at the user's earliest step-1 event; step
    * k completes at the earliest step-k event strictly after step k−1
    * and within `windowSec` of the anchor. Every batch the funnel is
    * re-resolved from state; a revision row is emitted only when the
    * reached-step count CHANGES, so the output stays O(#corrections),
    * not O(events).
    *
    * State bound: anchor + per-step candidates ≤ `maxCandidatesPerStep`
    * (smallest kept — the resolver always selects minima). The cap is a
    * documented contract, not a heuristic: results are exact while a
    * user's per-step event count below the pruning bound stays within
    * the cap; funnels over bounded windows satisfy this by construction
    * except under pathological per-user event rates.
    */
  def trackUnordered(events: Dataset[StepEvent], nSteps: Int,
                     windowSec: Long, maxCandidatesPerStep: Int = 256)
      : Dataset[FunnelRev] = {
    require(nSteps >= 1, "funnel needs at least one step")
    implicit val er = Encoders.product[FunnelRev]
    implicit val es = Encoders.product[UState]
    implicit val ek = Encoders.scalaLong
    val wMicros = windowSec * 1000000L
    events.groupByKey(_.key)
      .flatMapGroupsWithState[UState, FunnelRev](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[StepEvent], state: GroupState[UState]) =>
          val st = state.getOption.getOrElse(
            UState(Long.MaxValue, Seq.fill(nSteps - 1)(Seq.empty), 0, 0))
          var t1 = st.t1
          val cands = Array.fill(nSteps - 1)(
            scala.collection.mutable.ArrayBuffer.empty[Long])
          for (k <- 0 until nSteps - 1) cands(k) ++= st.cands(k)
          it.foreach { e =>
            val t = micros(e.ts)
            if (e.step == 0) { if (t < t1) t1 = t }
            else if (e.step < nSteps) cands(e.step - 1) += t
          }
          val pruned: Seq[Seq[Long]] = cands.toSeq.map { buf =>
            val kept =
              if (t1 == Long.MaxValue) buf
              else buf.filter(_ <= t1 + wMicros)
            kept.distinct.sorted.take(maxCandidatesPerStep).toSeq
          }
          var reached = 0
          if (t1 != Long.MaxValue) {
            reached = 1
            var tPrev = t1
            var k = 1
            var advancing = true
            while (advancing && k < nSteps) {
              pruned(k - 1).find(c => c > tPrev && c <= t1 + wMicros) match {
                case Some(c) => reached += 1; tPrev = c; k += 1
                case None => advancing = false
              }
            }
          }
          val out =
            if (reached != st.lastReached) {
              val next = UState(t1, pruned, st.rev + 1, reached)
              state.update(next)
              Iterator.single(FunnelRev(key, next.rev, reached))
            } else {
              state.update(UState(t1, pruned, st.rev, st.lastReached))
              Iterator.empty
            }
          out
      }
  }
}
