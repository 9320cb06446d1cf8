package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state: gap-based sessionization with
  * `flatMapGroupsWithState` — the stateful generalization of the
  * reference's availability-driven micro-batch loop
  * (`program/src/main/scala/hmushtaq/sparkga1/SparkGA1.scala:94-110`,
  * which keeps no cross-batch state at all) and the streaming twin of the
  * batch interval-coalescing operator.
  *
  * State per key is ONE open session (constant size — this is what makes
  * it safe at scale: state store holds O(#active keys), not O(events)).
  * A session is emitted when a later event arrives beyond the gap, or
  * when the watermark passes its end + gap. Use
  * `session_window` (Streams.sessionAgg) when the built-in semantics fit;
  * this operator is the template for state Spark can't express — e.g.
  * sessions carrying custom payload reductions.
  */
object StatefulSessions {

  case class OpenSession(start: Long, end: Long, n: Long)
  case class Session(key: Long, sess_start: Long, sess_end: Long,
                     n_rows: Long)

  case class TsEvent(key: Long, ts: java.sql.Timestamp)

  /** Sessionize with EVENT-TIME TIMEOUT: a session also closes when the
    * watermark passes its end + gap — without this, a key that simply
    * stops producing never emits its last session. `gapSeconds` is both
    * the merge gap and the timeout horizon; `watermarkDelay` bounds
    * accepted lateness (e.g. "10 seconds").
    */
  def sessionizeWithTimeout(events: Dataset[TsEvent], gapSeconds: Long,
                            watermarkDelay: String): Dataset[Session] = {
    implicit val se = Encoders.product[Session]
    implicit val so = Encoders.product[OpenSession]
    implicit val sk = Encoders.scalaLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[TsEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(key, s.start, s.end, s.n))
          } else {
            val times = it.map(_.ts.getTime / 1000L).toArray.sorted
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            // stragglers older than the open session's leading gap can't
            // join it (state holds ONE open session — that's what bounds
            // it); gap-merge them among themselves and emit immediately.
            val guard = cur.map(_.start - gapSeconds).getOrElse(Long.MinValue)
            val (late, rest) = times.partition(_ < guard)
            late.foreach { t =>
              closed.lastOption match {
                case Some(s) if t <= s.sess_end + gapSeconds =>
                  closed(closed.length - 1) =
                    s.copy(sess_end = t, n_rows = s.n_rows + 1)
                case _ => closed += Session(key, t, t, 1)
              }
            }
            rest.foreach { t =>
              cur = cur match {
                // extends (or exactly touches) the open session — also
                // lowers start for a late event within the leading gap
                case Some(s) if t <= s.end + gapSeconds =>
                  Some(OpenSession(math.min(s.start, t),
                                   math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed += Session(key, s.start, s.end, s.n)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes the session's trailing
              // gap; clamp above the current watermark (second-truncated
              // ends can land just below it, which Spark rejects)
              state.setTimeoutTimestamp(
                math.max((s.end + gapSeconds) * 1000L,
                         state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }
}
