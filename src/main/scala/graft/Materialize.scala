package graft

import org.apache.spark.sql.DataFrame

/** The one place a lazy checkpoint is made.
  *
  * A frame read more than once is checkpointed so its lineage runs once;
  * a frame read once is not. A lazy `localCheckpoint` saves the job an
  * eager one costs by materializing inside the first job that computes
  * every partition of the frame, and at our scale the job count sets the
  * cost: round 16 fused the checkpoints of 22 queries into their first
  * full scan, about −21% on them (OPTIMIZATION_r16.md §3). The saving
  * holds only when that first job scans the whole frame. A first
  * consumer that reads part of it (`isEmpty`, a limit, a broadcast build
  * of another frame, an adaptive stage materialized on its own, a later
  * multi-batch plan) leaves partitions unmaterialized, and every later
  * consumer recomputes the lineage: round 15 took q150 from 14.3 to
  * 26.9 s that way (OPTIMIZATION_r15.md), a round-16 attempt from 12.0
  * to 17.2 s. So a lazy checkpoint is made only together with the scan
  * that materializes it. Eager checkpoints stay at their call sites: they
  * materialize at once and cannot fall into the trap.
  */
object Materialize {

  /** Checkpoint `df` lazily and run `firstScan` on the checkpointed frame
    * at once; returns the frame and the scan's result. `firstScan` must
    * read every partition: a count, a global aggregate, or a trainer's
    * first pass.
    */
  def scanned[A](df: DataFrame)(firstScan: DataFrame => A): (DataFrame, A) = {
    val frame = df.localCheckpoint(false)
    (frame, firstScan(frame))
  }

  /** Checkpoint `df` lazily for the one DataFrame `plan` builds over it,
    * the frame's only consumer; every branch of that plan must scan the
    * frame fully, so whichever runs first materializes it.
    */
  def shared(df: DataFrame)(plan: DataFrame => DataFrame): DataFrame =
    plan(df.localCheckpoint(false))
}
