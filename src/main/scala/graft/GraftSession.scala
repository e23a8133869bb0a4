package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * `local(threads)` is the single-JVM harness used by Bench/Verify
  * and tests. `tune` applies the same SQL confs to any builder, so a
  * cluster deployment does
  * `GraftSession.tune(SparkSession.builder()...).getOrCreate()` and
  * sizes executors/shuffle partitions for its topology (rule of
  * thumb at 100 TB: shuffle partitions ≈ 2-3× total executor cores,
  * with AQE coalescing the rest).
  */
object GraftSession {

  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // UTC everywhere: event-time arithmetic must not depend on host tz.
    .config("spark.sql.session.timeZone", "UTC")
    // AQE: runtime re-plan — join-strategy switch on real sizes,
    // skew-join splitting, post-shuffle partition coalescing.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS); see Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // custom SQL functions (dot_product, l2_norm). withExtensions
    // (not just the static conf) so registration also works when a
    // SparkContext already exists — static confs are ignored then.
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .withExtensions(new GraftExtensions())

  def local(threads: Int, shufflePartitions: Int = 0): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else threads
    val s = tune(SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", sp)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The developer mains' session: [[local]] at `$SPARK_GRAFT_CPUS`
    * threads (default: every core). With `$SPARK_GRAFT_STAGE_MIN=<secs>`
    * set — else at `stageMin`, if given — every stage slower than the
    * floor prints one `[stage]` line (id, task count, wall, name),
    * streaming foreachBatch stages included. */
  def fromEnv(stageMin: Option[Double] = None): SparkSession = {
    val s = local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    sys.env.get("SPARK_GRAFT_STAGE_MIN").map(_.toDouble).orElse(stageMin)
      .foreach(floor => s.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          // either Option can be None (stage failed before submission
          // / resubmitted) — a get would throw inside the listener and
          // silently drop the profile row
          for (sub <- si.submissionTime; end <- si.completionTime) {
            val dur = (end - sub) / 1000.0
            if (dur > floor)
              println(f"[stage] id=${si.stageId} tasks=${si.numTasks} time=$dur%.2fs " +
                si.name.takeWhile(_ != '\n').take(80))
          }
        }
      }))
    s
  }
}
