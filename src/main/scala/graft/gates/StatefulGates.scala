package graft
package gates

import org.apache.spark.sql.functions._

import graft.functions.Stateful

/** Stateful running-expression gates (SURVEY §2.7 stateful), window-backed. */
object StatefulGates extends GateGroup {

  gate("q_stateful_running", (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      when(col("event_type") === "click", col("value")).as("click_val"))
    val part = Seq(col("user_id")); val ord = Seq(col("event_id"))
    e.select(col("user_id"), col("event_id"),
      Stateful.runningSum(col("cents"), part, ord).as("run_sum"),
      Stateful.changed(col("event_type"), part, ord).as("chg"),
      Stateful.smudge(col("click_val"), part, ord).as("locf")
    ).orderBy("user_id", "event_id")
  }, oracle =
    """WITH t AS (SELECT user_id, event_id, event_type,
      |CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |CASE WHEN event_type = 'click' THEN value END AS click_val FROM events)
      |SELECT user_id, event_id, CAST(SUM(cents) OVER w AS BIGINT) AS run_sum,
      |(row_number() OVER w = 1 OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg,
      |last_value(click_val IGNORE NULLS) OVER w AS locf
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin)

  gate("q_stateful_flush", (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), round(col("value") * 100).cast("long").as("cents"),
      (col("event_type") === "signup").as("flush"))
    val part = Seq(col("user_id")); val ord = Seq(col("event_id"))
    val withMin = Stateful.runningMinWithFlush(e, col("cents"), col("flush"), "run_min", part, ord)
    Stateful.smudgeIf(withMin, col("cents"), col("event_type") === "view", "carried", part, ord)
      .select("user_id", "event_id", "run_min", "carried")
      .orderBy("user_id", "event_id")
  }, oracle =
    """WITH t AS (SELECT user_id, event_id, event_type,
      |CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |(event_type = 'signup') AS flush FROM events),
      |s AS (SELECT *,
      |SUM(CASE WHEN flush THEN 1 ELSE 0 END) OVER w AS sess,
      |SUM(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END) OVER w AS grp
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      |MIN(cents) OVER (PARTITION BY user_id, sess ORDER BY event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min,
      |first_value(cents) OVER (PARTITION BY user_id, grp ORDER BY event_id
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
      |FROM s ORDER BY user_id, event_id""".stripMargin)
}
