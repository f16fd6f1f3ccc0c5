package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form: tumbling-window aggregation and
  * gap-based sessionization, oracle-checked against DuckDB.
  *
  * Scale: tumbling aggregation is a plain hash aggregate on (window, key) —
  * partial map-side combine, one shuffle. Sessionization shuffles once on
  * `user_id` (the window partition key); per-user event streams sort within
  * partitions (spillable ExternalSorter), no global sort.
  */
object Events {

  /** Tumbling-window aggregate: epoch-second bucket start of width
    * `widthSec`, per (bucket, event_type): count + exact-decimal value sum.
    * The bucket is emitted as a BIGINT epoch so results are
    * timezone-representation-proof across engines. */
  def tumblingAgg(events: DataFrame, widthSec: Long): DataFrame =
    events
      .groupBy(
        (floor(unix_timestamp(col("ts")) / widthSec) * widthSec).cast("long").as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapSec`. Returns per-user
    * session counts and bounds. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val newSession = when(
      prevTs.isNull || unix_timestamp(col("ts")) - unix_timestamp(prevTs) > gapSec, 1L)
      .otherwise(0L)
    events
      .withColumn("session_start", newSession)
      .groupBy(col("user_id"))
      .agg(
        sum(col("session_start")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** ORDERED funnel analysis: per user, how deep into the step sequence
    * they progressed, where step i counts only if it happens STRICTLY
    * AFTER the time step i−1 was first reached (the product-analytics
    * semantics — a purchase before the first view does not complete a
    * view→purchase funnel). `depth` = number of steps reached, 0 for
    * users who never performed `steps.head`.
    *
    * Shape: one cascade stage per step — stage i filters the event scan
    * to that step's type (scan-pushed `In`/`=` predicate, so each stage
    * reads only its step's events), joins the previous stage's
    * per-user reach times (user-keyed), and takes the per-user `min(ts)`
    * past the threshold. All k−1 joins and k aggregations key on
    * `user_id`; no per-user window, no event-list collection — per-user
    * state everywhere is ONE timestamp, so a million-event user costs
    * the same as a ten-event user.
    *
    * Each stage's reach frame is referenced TWICE (to filter the next
    * step's events and to carry non-advancing users), so without a cut
    * the lazy plan re-derives stage 1 2^(k−1) times — the iterative-
    * loop lineage rule. Stages are therefore EAGERLY materialized
    * (`localCheckpoint`, per-user-row-sized frames), superseded stages
    * freed as the loop advances. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = Checkpoints.scoped {
    require(steps.nonEmpty && steps.distinct == steps,
      s"funnel: steps must be non-empty and distinct, got $steps")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    var reach = Checkpoints.checkpoint(e.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("_t"))
      .withColumn("_depth", lit(1L)))
    var stage = 1L
    for (s <- steps.tail) {
      // only users exactly AT the previous stage can advance: a user who
      // missed step i must not have step i+1 counted (ordered semantics)
      val prev = reach.where(col("_depth") === stage)
        .select(col("user_id"), col("_t").as("_prev"))
      val next = e.where(col("event_type") === s)
        .join(prev, Seq("user_id"))
        .where(col("ts") > col("_prev"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("_tn"))
      val updated = Checkpoints.checkpoint(reach.join(next, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("_tn"), col("_t")).as("_t"),
          (col("_depth") + when(col("_tn").isNotNull, 1L).otherwise(0L)).as("_depth")))
      Checkpoints.free(reach) // superseded stage's only use is gone
      reach = updated
      stage += 1
    }
    val users = events.select(col("user_id")).distinct()
    users.join(reach.select(col("user_id"), col("_depth")), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("_depth"), lit(0L)).as("depth"),
        (coalesce(col("_depth"), lit(0L)) === steps.length).as("completed"))
  }

  /** Retention cohort table: users grouped by the epoch DAY of their
    * first event (`cohort_day`), counted distinct on each later day
    * offset — the classic triangle behind every retention curve.
    * `day_offset` 0 is the cohort's own size.
    *
    * Shape: per-user first day is one user-keyed aggregate; the join
    * back is user-keyed (co-partitioned with the aggregate's exchange);
    * the (cohort, offset, user) distinct and final count partial-
    * aggregate on short integer keys. Days are integer epoch-day
    * arithmetic — timezone-representation-proof across engines. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val day = expr("unix_timestamp(ts) div 86400")
    val firstDay = events
      .groupBy(col("user_id"))
      .agg(min(day).as("cohort_day"))
    events.select(col("user_id"), day.as("_day"))
      .join(firstDay, Seq("user_id"))
      .select(col("cohort_day"), (col("_day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
