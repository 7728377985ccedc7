package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-step ordered session funnels — the generalization of q65's 2-step
  * click→purchase conversion (reference capability: the events rollup
  * family, SURVEY §2.7) to an arbitrary ordered step list.
  *
  * Semantics: a session completes step i+1 iff an event of the step's
  * type occurs STRICTLY AFTER the event that completed step i in the
  * session's (ts, event_id) order — the standard product-analytics
  * funnel (ordered subsequence matching, repeated step types allowed).
  * Matching is greedy-earliest, which is exact for subsequence
  * existence: taking the earliest completion of step i never excludes a
  * later completion chain.
  *
  * Scale shape: sessionization is q28's two-window pass; each funnel
  * step is one map-side-combinable min-aggregate plus an equi-join on
  * (user_id, session_id) — all shuffles share that key, so AQE reuses
  * one exchange across the chain. The per-step reach frames reference
  * their predecessor (plan subtrees repeat ~k²/2 times in the final
  * union); for large k persist the intermediate reaches — at the k≤5 of
  * real funnels the reuse-exchange plan is fine. The streaming twin
  * (EventsStream.funnelDepths) fuses the same greedy matcher into the
  * gap-sessionize state machine; StreamingSpec asserts equality.
  */
object Funnel {

  /** Gap-rule sessionized events (q28's rule: a >gapSec silence starts a
    * new session), with each event's position `r` in the session's
    * (ts, event_id) order — the spine every funnel step matches against.
    * Returns (user_id, session_id, event_type, us, r). */
  def sessionized(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val sess = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    sess
      .withColumn("r", row_number().over(wSess).cast("long"))
      .select(col("user_id"), col("session_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("r"))
  }

  /** Greedy-earliest reach positions: element i is the set of sessions
    * completing step i+1, as (user_id, session_id, t = position of the
    * completing event). Each element's sessions are a subset of the
    * previous element's (monotone funnel).
    *
    * Each reach frame references its predecessor, so without
    * materialization the plan subtrees repeat ~k²/2 times across the
    * final union — fine at product-analytics k≤5 where AQE's exchange
    * reuse absorbs it, quadratic plan growth at k=10+. With
    * `persistIntermediates` the session spine and every reach are
    * `localCheckpoint`ed (same lineage-truncation pattern as the
    * connected-components loop, Components.scala), so a k-step funnel
    * costs exactly k filter+join+agg passes over a materialized spine. */
  def stepReaches(sess: DataFrame, steps: Seq[String],
                  persistIntermediates: Boolean = false,
                  viaPersist: Boolean = false): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // Two materialization backends (round-20 verdict item 8, A/B'd in
    // OPTIMIZATION_r20.md §8): `localCheckpoint`
    // truncates lineage into executor-local blocks — the fastest form,
    // but on a CLUSTER an executor loss then fails the query instead of
    // recomputing, and the eager checkpoint materializes the full
    // sessionized spine. The tracked-persist form keeps lineage (an
    // executor loss recomputes the lost partitions) and releases with
    // the harness's TempCaches sweep; it is the cluster-deployment
    // default posture. local[n] keeps localCheckpoint (no executor to
    // lose; measured faster — see OPTIMIZATION_r20.md).
    def cp(df: DataFrame): DataFrame =
      if (!persistIntermediates) df
      else if (viaPersist) graft.TempCaches.tracked(df)
      else df.localCheckpoint(eager = true)
    val spine = cp(sess)
    val first = cp(spine.filter(col("event_type") === steps.head)
      .groupBy(col("user_id"), col("session_id")).agg(min(col("r")).as("t")))
    steps.tail.scanLeft(first) { (prev, st) =>
      cp(spine.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("session_id"), col("t").as("pt")),
          Seq("user_id", "session_id"))
        .filter(col("r") > col("pt"))
        .groupBy(col("user_id"), col("session_id")).agg(min(col("r")).as("t")))
    }
  }

  /** The funnel summary: one row per step — (step 1..k, event_type,
    * n_sessions that completed it in order). Deep funnels (k > 4)
    * auto-persist their intermediate reaches (see [[stepReaches]]). */
  def kStepFunnel(events: DataFrame, steps: Seq[String], gapSec: Long = 1800L,
                  persistIntermediates: Option[Boolean] = None,
                  viaPersist: Boolean = false): DataFrame =
    stepReaches(sessionized(events, gapSec), steps,
        persistIntermediates.getOrElse(steps.length > 4), viaPersist)
      .zipWithIndex.map { case (r, i) =>
      r.agg(count(lit(1)).as("n_sessions"))
        .select(lit((i + 1).toLong).as("step"), lit(steps(i)).as("event_type"),
          col("n_sessions"))
    }.reduce(_.union(_))

  /** Per-session funnel depth (max step completed, ≥1 — depth-0 sessions
    * are simply absent): the comparison surface for the streaming twin. */
  def sessionDepths(events: DataFrame, steps: Seq[String], gapSec: Long = 1800L,
                    persistIntermediates: Option[Boolean] = None): DataFrame =
    stepReaches(sessionized(events, gapSec), steps,
        persistIntermediates.getOrElse(steps.length > 4))
      .zipWithIndex.map { case (r, i) =>
      r.select(col("user_id"), col("session_id"), lit((i + 1).toLong).as("depth"))
    }.reduce(_.union(_))
      .groupBy(col("user_id"), col("session_id")).agg(max(col("depth")).as("depth"))
}
