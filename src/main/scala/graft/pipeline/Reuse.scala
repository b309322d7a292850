package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The pipeline library's one rule for a frame that several plan
  * subtrees read — shingle rows feeding a signature aggregate and both
  * verify sides, postings feeding tf and df, a count table feeding a
  * range probe, bucket totals and a windowed pass. Catalyst plans each
  * consumer as its own copy of the frame's lineage, so unless the frame
  * is materialized its scan, tokenize and shuffles run once per
  * consumer. No operator decides this for itself and no caller sets it:
  * the platform does.
  *
  * Under a local master [[shared]] returns `df.localCheckpoint()`: the
  * rows become plain RDD blocks that every consumer reads directly.
  * These frames are narrow or aggregate-compressed, so the blocks are
  * cheap to write. The columnar cache (`persist` into an
  * InMemoryRelation) was measured slower for the same frames in rounds
  * 21–22: its build cost and the codegen break outweighed recomputing
  * the lineage (minhashLsh 2.2× slower; ks_drift 1.45 → 2.45 s solo),
  * while RDD blocks won (dedup_minhash 2.1–2.5 → 1.4–1.6 s warm,
  * ngramJaccard 7.2 → 4.2 s at sf0.1; OPTIMIZATION_r21.md §3). The
  * checkpoint is eager: the frame's jobs run when the operator is
  * called, not when its result is.
  *
  * On any other master the frame comes back unchanged. Local-checkpoint
  * blocks live only on the executor that computed them and the
  * checkpoint truncates lineage, so a lost executor would fail the job
  * instead of recomputing; with lineage intact Spark recomputes the
  * lost partitions, at the price of running the frame once per
  * consumer.
  *
  * The decision reads the frame's own session, not a process-wide
  * preset, because library callers bring their own session.
  */
object Reuse {
  def shared(df: DataFrame): DataFrame =
    shared(df, df.sparkSession.sparkContext.isLocal)

  /** [[shared]] with the platform decision given, so a test can pin the
    * non-local branch under a local session. */
  private[pipeline] def shared(df: DataFrame, local: Boolean): DataFrame =
    if (local) df.localCheckpoint() else df
}
