package perfbench

import org.apache.spark.sql.SparkSession

/** One measured operation: a query, a corpus build or a stream trigger.
  * `key` is the attribution key its Spark jobs carry (job group, or
  * stream run id + batch id). Failed ops have ok = false. */
final case class Op(name: String, key: String, t0: Double, t1: Double, ok: Boolean,
    constructMs: Double = 0.0, items: Long = 1L, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = t1 - t0
}

/** Everything a workload needs from the harness. `fixtures` holds
  * seed-independent inputs, made once per build and reused. */
final class Ctx(val work: String, val in: String, val seed: Long, val fixtures: String) {
  val out = s"$work/out"
  private var nextOp = 0L
  /** Run `body` as one op in its own job group; threads it starts
    * inherit the group. Exceptions are counted, not propagated. */
  def op(s: SparkSession, name: String, items: Long)(body: => Map[String, Double]): Op = {
    nextOp += 1
    val key = s"perfbench-op-$nextOp"
    s.sparkContext.setJobGroup(key, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    val (ok, attrs) =
      try (true, body)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        (false, Map.empty[String, Double])
      } finally s.sparkContext.clearJobGroup()
    val t1 = t0 + (System.nanoTime() - n0) / 1e6
    Op(name, key, t0, t1, ok, attrs.getOrElse("construct_ms", 0.0), items, attrs)
  }
}

/** A benchmark workload. Set-up (`generate` then `prepare`) runs
  * several times per run to time it; `cold` runs once in the fresh
  * session that set-up leaves; `round` repeats
  * until the run's measuring time is spent; `check` runs after all
  * timing. */
trait Workload {
  def name: String
  def generate(s: SparkSession, ctx: Ctx): Map[String, Long]
  def prepare(s: SparkSession, ctx: Ctx): Map[String, Double] = Map.empty
  def cold(s: SparkSession, ctx: Ctx): Seq[Op]
  def round(s: SparkSession, ctx: Ctx, i: Int): Seq[Op]
  /** Failed output checks, as messages; empty when all pass. */
  def check(s: SparkSession, ctx: Ctx): Seq[String]
  /** True when the cold unit is also the first measured op. */
  def coldIsMeasured: Boolean = false
  /** Rounds run after the cold unit even when `--seconds` is spent. */
  def minRounds: Int = 1
  /** Untimed rounds between the cold unit and the measured phase, so
    * the measured rounds do not include the JIT settling. Their ops
    * still count as attempted. */
  def settleRounds: Int = 0
  /** The op_tail_ms percentile: fixed per workload, so it means the
    * same on every commit, and chosen to leave at least ten measured
    * ops beyond it (the count is recorded beside it). */
  def tailPct: Double
  /** True when the traced run repeats the cold unit at local[1]. */
  def singleThreadBaseline: Boolean = false
  /** Named phase durations (seconds) inside one op, for its child spans. */
  def phases(s: SparkSession, ctx: Ctx, op: Op): Seq[(String, Double)] = Seq.empty
  /** Workload-specific per-layer metrics, read after the measured phase. */
  def layers(s: SparkSession, ctx: Ctx, measured: Seq[Op]): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3
  /** Spark local threads: the benchmark is sized for a 4-core host. */
  val Threads = 4

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(threads: Int): SparkSession = graft.GraftSession.local(threads)

  def workload(name: String): Workload = name match {
    case "shop_queries" => new ShopQueries
    case "corpus_build" => new CorpusBuild
    case "enrich_stream" => new EnrichStreamWl
    case "admit_stream" => new AdmitStreamWl
    case other => sys.error(s"unknown workload $other")
  }

  /** One set-up and cold unit of each named workload in this JVM, with
    * no timing: the launcher runs it once per build to record the
    * classes a run loads into a class-data-sharing archive. */
  def train(work: String, names: Seq[String]): Unit = names.foreach { n =>
    val wl = workload(n)
    val ctx = new Ctx(s"$work/$n", s"$work/$n/in", 0L, s"$work/fixtures")
    val s = session(Threads)
    wl.generate(s, ctx)
    warmJob(s)
    wl.prepare(s, ctx)
    wl.cold(s, ctx)
    wl.check(s, ctx)
    s.stop()
  }

  def main(args: Array[String]): Unit = arg(args, "--train") match {
    case Some(names) =>
      train(arg(args, "--work").getOrElse(sys.error("--work required")), names.split(",").toSeq)
    case None => run(args)
  }

  def run(args: Array[String]): Unit = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val wlName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(6.0)
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work required"))
    val wl = workload(wlName)
    val trace = if (traced) Some(new Trace) else None
    val ctx = new Ctx(work, s"$work/in", seed, arg(args, "--fixtures").getOrElse(s"$work/fixtures"))

    // ---- set-up, timed SetupReps times; the last session stays up ----
    var spark: SparkSession = null
    var rows = Map.empty[String, Long]
    var prep = Map.empty[String, Double]
    val setupWalls = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val n0 = System.nanoTime()
      spark = session(Threads)
      rows = wl.generate(spark, ctx)
      warmJob(spark)
      prep = wl.prepare(spark, ctx)
      (System.nanoTime() - n0) / 1e9
    }
    val s = spark
    trace.foreach { t =>
      s.sparkContext.addSparkListener(t.listener)
      s.listenerManager.register(t.queryListener)
    }
    // ---- cold: the first unit of work in the fresh session ----
    val m0 = System.nanoTime()
    val coldOps = wl.cold(s, ctx)
    val coldS = coldOps.map(_.ms).sum / 1000.0
    // ---- measured phase: whole rounds until `seconds` is spent ----
    val measured = scala.collection.mutable.ArrayBuffer.empty[Op]
    val settled = (0 until wl.settleRounds).flatMap(i => wl.round(s, ctx, i))
    if (wl.coldIsMeasured) measured ++= coldOps
    val m1 = if (wl.coldIsMeasured) m0 else System.nanoTime()
    var i = 0
    while (i < wl.minRounds || (System.nanoTime() - m1) / 1e9 < seconds) {
      measured ++= wl.round(s, ctx, wl.settleRounds + i); i += 1
    }
    val wallS = (System.nanoTime() - m1) / 1e9
    val storage = s.sparkContext.getRDDStorageInfo
    val cachedMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6
    val cachedBlocks = storage.map(_.numCachedPartitions.toLong).sum

    // ---- checks, outside all timing ----
    val failures =
      try wl.check(s, ctx)
      catch { case e: Throwable => Seq(s"check threw: $e") }

    val all = (coldOps ++ settled ++ measured).distinct
    val lat = measured.toSeq.map(o => if (o.ok) o.ms else Double.PositiveInfinity).sorted
    val tailMs = Stats.pct(lat, wl.tailPct)
    val itemsPerS = measured.filter(_.ok).map(_.items).sum / wallS
    val e2e = Seq(
      "setup_s" -> (bootS + Stats.median(setupWalls)),
      "cold_s" -> coldS,
      "op_p50_ms" -> Stats.pct(lat, 50),
      "op_tail_ms" -> tailMs,
      "items_per_s" -> itemsPerS)
    val info = Seq(
      "workload" -> Json.str(wlName), "seed" -> seed.toString,
      "threads" -> Threads.toString, "rounds" -> i.toString,
      "measured_ops" -> measured.size.toString,
      "tail_percentile" -> Json.num(wl.tailPct), "tail_n" -> lat.size.toString,
      "measured_s" -> Json.num(wallS), "boot_s" -> Json.num(bootS),
      "setup_walls_s" -> setupWalls.map(Json.num).mkString("[", ",", "]"),
      "cached_mb" -> Json.num(cachedMb),
      "input_rows" -> Json.obj(rows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "check_failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "tail_beyond" -> lat.count(_ > tailMs).toString)

    val layers = trace.map { t =>
      t.quiesce()
      val base = Layers.common(t, coldOps, measured.toSeq, Threads, wallS) ++
        Map("memo.cached_mb" -> cachedMb, "memo.cached_blocks" -> cachedBlocks.toDouble) ++
        prep ++ wl.layers(s, ctx, measured.toSeq)
      val wlSpan = t.newSpan(0, "workload", wlName, all.head.t0, all.last.t1)
      all.foreach { o =>
        val id = t.newSpan(wlSpan, "op", o.name, o.t0, o.t1,
          o.attrs.filter(_._2.isFinite) + ("ok" -> (if (o.ok) 1.0 else 0.0)))
        t.bind(o.key, id)
        if (o.constructMs > 0) {
          t.newSpan(id, "construct", "construct", o.t0, o.t0 + o.constructMs)
          t.newSpan(id, "execute", "execute", o.t0 + o.constructMs, o.t1)
        }
        // ledger rows carry durations only, so their spans start with the op
        if (o.ok) wl.phases(s, ctx, o).foreach { case (name, secs) =>
          t.newSpan(id, "ledger_stage", name, o.t0, o.t0 + secs * 1000.0)
        }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"), t.spansJson)
      base
    }
    s.stop()
    // the single-thread baseline: the cold unit's wall in a fresh
    // local[Threads] session against its wall in a fresh local[1] one,
    // both JIT-warm and timed the same way
    val speedup = layers.filter(_ => wl.singleThreadBaseline).map { _ =>
      def wallOf(threads: Int): Double = {
        val s1 = session(threads)
        val n0 = System.nanoTime()
        val ok = wl.cold(s1, ctx).forall(_.ok)
        val w = (System.nanoTime() - n0) / 1e9
        s1.stop()
        if (ok) w else Double.NaN
      }
      val w4 = wallOf(Threads)
      "streaming.speedup_vs_1thread" -> wallOf(1) / w4
    }
    val layerJson = layers.map(l => Layers.all.map(k => k -> Json.num((l ++ speedup).getOrElse(k, 0.0))))

    val res = Json.obj(Seq(
      "info" -> Json.obj(info),
      "attempted" -> all.size.toString,
      "failed" -> all.count(!_.ok).toString,
      "correct" -> failures.isEmpty.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> all.map(o => Json.obj(Seq("name" -> Json.str(o.name), "ms" -> Json.num(o.ms),
        "ok" -> o.ok.toString, "cold" -> coldOps.contains(o).toString,
        "measured" -> measured.contains(o).toString))).mkString("[", ",", "]")) ++
      layerJson.map(l => "per_layer" -> Json.obj(l)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), res + "\n")
  }

  /** The generic warm-up job of every set-up: session init, codegen, shuffle paths. */
  def warmJob(s: SparkSession): Unit =
    s.range(0, 1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs.sorted, 50)
  /** Nearest-rank percentile of an ascending sequence. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))
}
