package graft.streaming

import graft.io.Source
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Watermark sizing for the `ensure*` REPLAY paths: a replay's whole
  * point is that NOTHING is dropped, but a fixed "45 days" delay only
  * honors that while the landing's event-time span stays under 45 days
  * — the landing is randomly repartitioned, so each micro-batch sees
  * near-max event times, and on a wider dataset the advancing watermark
  * would silently drop late rows and break the exact-oracle contract
  * with no error anywhere. Deriving the delay from the landing's ACTUAL
  * min/max span (plus a margin) makes the replay posture hold for any
  * input instead of any input under 45 days.
  *
  * The bounds read is a one-row min/max aggregate over the event-time
  * column — a bounded driver read in the same class as the
  * centroid/props-key reads; at 100 TB a ts-partitioned landing answers
  * it from partition metadata. Live deployments do NOT use this: a real
  * stream's lateness bound is an SLA, not a data property.
  */
object ReplayGuard {

  /** Watermark delay string covering `landing`'s full event-time span
    * plus `marginDays` (schema-dispatched ns extraction, like every
    * events reader).
    */
  def spanWatermark(spark: SparkSession, landing: String,
                    marginDays: Long = 2L): String = {
    val b = Source.read(spark, landing)
    val ts = graft.tsdb.Db.tsNs(b.schema)
    val row = b.agg(min(ts).as("lo"), max(ts).as("hi")).head()
    val dayNs = 86400L * 1000000000L
    val spanDays =
      if (row.isNullAt(0) || row.isNullAt(1)) 0L
      else (row.getLong(1) - row.getLong(0) + dayNs - 1) / dayNs
    s"${spanDays + marginDays} days"
  }
}
