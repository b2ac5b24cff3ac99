package graft.operators

/** Shared scratch-reclamation helper for the bounded-scratch sliced
  * operators ([[Dedup.nearDupPairsBandedSliced]],
  * [[Dedup.contaminationOverlapSliced]], [[Dedup.duplicateSpansSliced]],
  * [[TextOps.lmScoreSliced]]): each slice ends with a GC hint so the
  * ContextCleaner's weak references fire and the slice's shuffle files
  * are deleted BEFORE the next slice starts — that bound on peak
  * scratch is the whole point of slicing (measured ~60 GB of spill per
  * unsliced build stride at sf1000).
  */
private[graft] object Scratch {

  /** Cumulative shuffle-write bytes per live SparkContext, fed by a
    * stage-completion listener (installed eagerly via [[install]], or
    * lazily on first use) and reset by [[gcIfPressured]] when — and only
    * when — the GC hint fires. Exact in local mode — one JVM sees
    * every task; on a cluster the driver-side stage metrics are the
    * same aggregate the UI reports.
    */
  private val scratchBytes = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext,
    java.util.concurrent.atomic.AtomicLong]()

  /** Eagerly install the stage listener for `spark`'s context (round-14
    * ADVICE): lazily installed on the first [[gcIfPressured]] call, the
    * shuffle bytes of the FIRST slice of the first sliced query in a
    * session were never counted. Bench/Verify call this right after
    * building their session so slice #1 counts like every other. The
    * counter is deliberately context-global: concurrent jobs in one
    * session cross-attribute bytes between callers, which is acceptable
    * for a GC hint (any caller reclaiming scratch reclaims it for all).
    */
  private[graft] def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    counter(spark.sparkContext)
    ()
  }

  private def counter(sc: org.apache.spark.SparkContext)
      : java.util.concurrent.atomic.AtomicLong = {
    // stopped contexts can never fire their listener again — drop them
    // so the map cannot grow across session lifetimes
    scratchBytes.keySet.removeIf(_.isStopped)
    scratchBytes.computeIfAbsent(sc, { sc2 =>
      val c = new java.util.concurrent.atomic.AtomicLong(0L)
      sc2.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit = {
          c.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
      c
    })
  }

  /** Default scratch threshold below which the per-slice GC hint is
    * skipped (256 MiB; override `SPARK_GRAFT_SCRATCH_GC_MIN_BYTES`).
    * At the ladder decades where slicing matters each slice writes
    * gigabytes; a bench-scale slice writes single-digit MB.
    */
  val DefaultMinScratchBytes: Long = 256L << 20

  /** Shuffle-write bytes accumulated in `spark`'s context since the
    * last reclaim — a [[gcIfPressured]] firing or a [[noteReclaim]]
    * (test hook; drains listener-bus stragglers first so a
    * just-finished job is fully counted).
    */
  private[graft] def pendingScratchBytes(
      spark: org.apache.spark.sql.SparkSession): Long = {
    graft.Bench.drainListenerBus(spark.sparkContext)
    counter(spark.sparkContext).get()
  }

  /** Record that a full GC just ran OUTSIDE the gate (Bench's cold-cache
    * reset before every timed run, Verify's per-query nudge): the
    * accumulated scratch has had its reclaim opportunity, so the gate
    * restarts from zero — otherwise the bytes of every PRIOR query in a
    * long run would count against the first slice of the next sliced
    * query and fire a redundant GC inside its timed region.
    */
  private[graft] def noteReclaim(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.Bench.drainListenerBus(spark.sparkContext)
    counter(spark.sparkContext).set(0L)
  }

  /** `System.gc()` only when the slices have actually produced scratch
    * worth reclaiming: ≥ `SPARK_GRAFT_SCRATCH_GC_MIN_BYTES` (default
    * 256 MiB) of shuffle-write bytes since the last reclaim, measured
    * by a per-context stage listener. The GC hint exists solely so the
    * ContextCleaner deletes dead shuffle files between slices — so the
    * gate is the size of that scratch, not JVM heap fill: the round-13
    * heap gate (`used > max/2`) counted garbage, and a long bench run
    * with a slowly filling 24 g heap fired all 5 full GCs inside the
    * timed sliced query anyway (~0.3–0.6 s each) against ~3 MB of
    * scratch. At ladder scale (~GBs per slice) the new gate fires
    * exactly as the old one did. Periodic cleanup still backstops the
    * skipped case (`spark.cleaner.periodicGC.interval`, default
    * 30 min).
    */
  def gcIfPressured(spark: org.apache.spark.sql.SparkSession): Unit = {
    val c = counter(spark.sparkContext)
    // stage-completed events arrive on the async listener bus — drain
    // so the slice that just finished is fully counted before deciding
    graft.Bench.drainListenerBus(spark.sparkContext)
    // Malformed override falls back to the default instead of throwing
    // NumberFormatException out of the per-slice loop (round-14 ADVICE).
    val thr = sys.env.get("SPARK_GRAFT_SCRATCH_GC_MIN_BYTES")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(DefaultMinScratchBytes)
    // Accumulate-until-reclaim (round-14 ADVICE): reset the counter only
    // when the GC actually fires — N sub-threshold slices must still add
    // up to a reclaim once their dead shuffle files total the threshold,
    // matching the "since the last reclaim" scaladoc. The check and the
    // reset are one compare-and-set, so of two concurrent slices only one
    // fires, and bytes recorded meanwhile are never zeroed uncounted.
    if (c.getAndUpdate(b => if (b >= thr) 0L else b) >= thr) System.gc()
  }
}
