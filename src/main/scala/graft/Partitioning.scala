package graft

/** Shuffle-partition policy.
  *
  * Two measured failure modes bound the setting:
  *  - too FEW for the data: at 2.4M pages / 32 partitions the s4 window sort
  *    put ~700MB in each partition and went into multi-pass spill
  *    (24.6s -> 531s, round-2 measurement) — hence the 8x-cores ceiling;
  *  - too MANY for the data: the 800-page bench fixture (g01) runs 2.2x
  *    SLOWER at 256 partitions than at 32 (interleaved same-JVM A/B,
  *    BENCH/BASELINE.md round 3) — a fixed-overhead-bound job pays
  *    per-task scheduling and per-reducer shuffle bookkeeping on every one
  *    of its ~20 barriers, and AQE's parallelism-first coalescing does not
  *    claw it all back.
  *
  * So the partition count scales with DATA between those bounds: ~1
  * partition per `pagesPerPartition` input pages, floored at the core count
  * (full parallelism for CPU-heavy scoring), capped at 8x cores (the spill
  * guard ceiling, with AQE coalescing inside it). CC additionally pins its
  * own per-round shuffles to the core count internally (ops/Clustering).
  */
object Partitioning {
  /** ~1 partition per 1k pages: 800-page fixture -> core count (floor),
    * 50k bench pages -> ~50, 600k+ -> the 8x-cores ceiling (at 50k, 32 vs
    * 256 partitions measured within host noise, ±10%, in a round-2
    * interleaved A/B; the bounds are what matter — BENCH/BASELINE.md
    * rounds 2-3 record the measurements behind them). */
  def shufflePartitions(cores: Int, nPages: Long,
      pagesPerPartition: Long = 1000L): Int =
    math.max(cores.toLong,
      math.min(8L * cores, nPages / pagesPerPartition)).toInt

  /** CC per-round shuffle partitioning. Round 2 pinned CC to the core count
    * (256 partitions made 2.4M-page CC 3.5x slower — per-round task overhead
    * dominates small shuffles), but a flat pin has its own wall: at 9.6M
    * pages the symmetric edge set is ~10^8 string rows, and 32 concurrent
    * sort/agg tasks each holding edges/32 in memory OOM'd a 56g heap
    * (measured, stage 59). So CC partitions also scale with data, just on a
    * much slower ramp than the one-pass stages: ~1 partition per 75k pages,
    * floor cores, cap 8x cores — 2.4M keeps the round-2 optimum (32), 9.6M
    * gets 128 (bounded per-task memory), tests/fixtures stay at cores. */
  def ccPartitions(cores: Int, nPages: Long,
      pagesPerPartition: Long = 75000L): Int =
    math.max(cores.toLong,
      math.min(8L * cores, nPages / pagesPerPartition)).toInt
}
