package graft.operators

import org.apache.spark.sql.DataFrame

/** Pin a reused small intermediate — the ONE materialization seam for
  * every query-path "compute once, consume N times" table (supplier
  * edge lists, quantile cuts, exact-truth sides, cluster labels).
  *
  * Modes (session conf `spark.graft.pin`):
  *  - "local" (default): `localCheckpoint()` — executor-local blocks,
  *    GC-cleaned, no configuration. Right for local mode and the bench:
  *    per-call `persist` inside a query fn is NEVER unpersisted (the fn
  *    returns a lazy frame, so there is no post-consumption hook),
  *    accumulates in the CacheManager and degrades monotonically across
  *    calls (measured 7.6 → 19.6 s over five calls, r21); localCheckpoint
  *    RDDs are reference-tracked and collected instead. PinSpec pins the
  *    CacheManager-empty invariant so a bare persist cannot sneak back.
  *  - "reliable": `checkpoint()` to the context's checkpoint dir. For
  *    cluster reality (VERDICT r21 #7): localCheckpoint trades away
  *    lineage recovery — an executor loss makes the job unrecoverable
  *    instead of recomputable — so a deployment that cares sets
  *    `spark.graft.pin=reliable` plus a durable checkpoint dir. Requires
  *    `SparkContext.setCheckpointDir` (fails loudly if unset — silently
  *    checkpointing to a default /tmp on a cluster would be local-disk,
  *    i.e. not reliable at all) and
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`: every pin
  *    writes a full copy of its rows (a resident index load writes the
  *    whole index, again on every reload after an ingest), and without
  *    the cleaner those copies are never deleted.
  */
object Pin {
  private val CleanCheckpoints = "spark.cleaner.referenceTracking.cleanCheckpoints"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.pin", "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        val sc = df.sparkSession.sparkContext
        requireReliable(sc.getCheckpointDir, sc.getConf)
        df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"spark.graft.pin must be local or reliable, got '$other'")
    }

  /** Reliable mode's two preconditions, checked before any checkpoint is
    * written. */
  private[graft] def requireReliable(checkpointDir: Option[String],
                                     conf: org.apache.spark.SparkConf): Unit = {
    if (checkpointDir.isEmpty)
      throw new IllegalStateException(
        "spark.graft.pin=reliable needs SparkContext.setCheckpointDir " +
          "(a durable path — that is the point of the mode)")
    if (!conf.getBoolean(CleanCheckpoints, defaultValue = false))
      throw new IllegalStateException(
        s"spark.graft.pin=reliable needs $CleanCheckpoints=true at context start " +
          "(each pin writes a full checkpoint copy; without it none is ever deleted)")
  }

  /** `.pin()` chain syntax, so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = Pin(df)
  }
}
