package graft.streaming

import org.apache.spark.sql.DataFrame

/** Event-time operators that run unchanged on batch frames and on
  * watermarked streams. The reference is purely batch (SURVEY.md
  * §2.10); the batch twin `q_event_attribution` runs [[attribution]]
  * against the DuckDB oracle, and EventStreamsSpec runs the same code
  * as a stream-stream join.
  */
object EventStreams {

  /** Attribution (interval) join: every action event paired with the
    * same user's cause events inside the lookback window,
    * `action_ts - lookback <= cause_ts <= action_ts` — the
    * click-to-view attribution shape. Works identically on batch
    * frames and on WATERMARKED streams: for a stream-stream join the
    * event-time range condition is precisely what lets Structured
    * Streaming bound both sides' join state (causes older than
    * `action watermark - lookback` can never match again and are
    * evicted; an unconstrained stream-stream join would hold every
    * event forever). Callers add `withWatermark` on both inputs for
    * the streaming case — see EventStreamsSpec.
    */
  def attribution(actions: DataFrame, causes: DataFrame,
                  userCol: String, actionTsCol: String, causeTsCol: String,
                  lookback: String): DataFrame = {
    // `lookback` is parsed by Spark's own INTERVAL-literal grammar at
    // plan-construction time and must come back as a single LITERAL —
    // so a malformed value fails here with a named error, every form
    // the SQL literal accepts ("30 minutes", "1 day 12 hours",
    // "3 months", "1.5 seconds", "'1 hour'") stays accepted (a shape
    // whitelist would silently narrow the API), and any successfully-
    // parsed NON-literal smuggled through the parameter is rejected,
    // making injection structurally impossible
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(s"INTERVAL ${lookback.trim}")
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"""attribution: malformed lookback "$lookback" — """ +
            s"expected an interval like \"30 minutes\" or " +
            s"\"1 day 12 hours\" (${e.getMessage})")
      }
    require(parsed.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal],
      s"""attribution: malformed lookback "$lookback" — """ +
        "parsed to a non-literal expression")
    // a NEGATIVE net lookback makes the join window [ts+|d|, ts] —
    // permanently empty, attributing 0 rows forever without an error.
    // The pre-parser regex rejected the sign; the parser must too.
    // (Zero stays admitted: the regex allowed "0 minutes", and a
    // point-in-time window is well-defined.)
    val nonNegative =
      parsed.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
        .value match {
          case l: Long => l >= 0L // DayTimeIntervalType micros
          case i: Int => i >= 0   // YearMonthIntervalType months
          case c: org.apache.spark.unsafe.types.CalendarInterval =>
            c.months >= 0 && c.days >= 0 && c.microseconds >= 0
          case _ => false
        }
    require(nonNegative,
      s"""attribution: negative lookback "$lookback" — the window would """ +
        "be empty on every row")
    val interval = org.apache.spark.sql.GraftBridge.column(parsed)
    actions.join(causes,
      actions(userCol) === causes(userCol) &&
        causes(causeTsCol) <= actions(actionTsCol) &&
        causes(causeTsCol) >= actions(actionTsCol) - interval)
      .drop(causes(userCol))
  }
}
