package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.sources.{AnnIndex, Maintenance}
import graft.streaming.EnrichStream

/** Developer scenarios for the serving faces — admission, the keyed
  * enrichment stream, lexical retrieval, ANN drift — plus the IVF fit
  * and dedup-scope A/Bs and a one-query stage profile. Each scenario
  * prints JSON lines (one per pipeline; one for most). Not part of the
  * driver contract: `graft.Bench` and `perfbench/` are the measured
  * benchmarks.
  *
  * usage: runMain graft.Scenarios <scenario> [args...]
  *   admit  [docsDir] [chunks]          docsDir default /tmp/stress_x10
  *   stream [eventsDir] [chunks]        eventsDir default /tmp/estress_x10
  *   lex    [docsDir] [chunks] [qtrig]  docsDir default /tmp/stress_x10
  *   drift  [embDir] [chunkSize] [nprobe]  embDir default /tmp/stress_x100
  *   fit    <embDir> [runs]
  *   scope  <mediaDir> [scopes] [runs] [phash|wav]
  *   dbg    <sfDir> <queryName> [runs]
  *
  * The session is `GraftSession.fromEnv` ($SPARK_GRAFT_CPUS,
  * $SPARK_GRAFT_STAGE_MIN); `dbg` prints stages over 1 s unless the
  * env sets another floor. Specs call [[run]] on their own session.
  */
object Scenarios {

  /** One JSON object, fields in print order. Values: String, [[Num]],
    * Obj, a Seq of those, or anything whose toString is JSON (Int,
    * Long, Boolean). */
  final case class Obj(fields: (String, Any)*) {
    def json: String =
      fields.map { case (k, v) => s""""$k":${jsonOf(v)}""" }.mkString("{", ",", "}")
  }

  /** A number printed with a fixed count of decimals. */
  final case class Num(text: String)
  def num(x: Double, decimals: Int): Num = Num(s"%.${decimals}f".format(x))

  private def jsonOf(v: Any): String = v match {
    case Num(t) => t
    case o: Obj => o.json
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: Seq[_] => xs.map(jsonOf).mkString("[", ",", "]")
    case other => other.toString
  }

  type Scenario = (SparkSession, Seq[String]) => Seq[Obj]

  private val all = scala.collection.immutable.ListMap[String, Scenario]("admit" -> admit _,
    "stream" -> stream _, "lex" -> lex _, "drift" -> drift _, "fit" -> fit _,
    "scope" -> scope _, "dbg" -> dbg _)

  private val usage = s"usage: runMain graft.Scenarios <${all.keys.mkString("|")}> [args...]"

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    if (!all.contains(name)) { System.err.println(usage); sys.exit(2) }
    val spark = GraftSession.fromEnv(if (name == "dbg") Some(1.0) else None)
    try run(spark, name, args.toSeq.tail).foreach(println)
    finally spark.stop()
  }

  private val work = new scala.util.DynamicVariable[Path](null)

  /** A fresh directory under the running scenario's scratch root. */
  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(work.value, prefix).toString

  /** Run scenario `name` on `s` and return its JSON lines. The
    * scenario's scratch directories are deleted afterwards. */
  def run(s: SparkSession, name: String, args: Seq[String]): Seq[String] = {
    val scenario = all.getOrElse(name, throw new IllegalArgumentException(usage))
    val root = Files.createTempDirectory(s"graft_$name")
    try work.withValue(root)(scenario(s, args)).map(_.json)
    finally FileUtils.deleteQuietly(root.toFile)
  }

  /** (wall seconds, result) of one call. */
  def timed[A](thunk: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = thunk
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Untimed warm-up (scan cache, codegen), then the fastest of `runs`
    * timed calls: (its seconds, its result). */
  def bestOf[A](runs: Int)(thunk: => A): (Double, A) = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    thunk
    (1 to runs).map(_ => timed(thunk)).minBy(_._1)
  }

  /** What one stream run did: wall seconds of the drain, input rows,
    * non-empty triggers, per-trigger seconds of those triggers (in
    * trigger order), and the largest state-row count any trigger
    * reported. */
  final case class Drive(secs: Double, rows: Long, batches: Int,
      triggerSecs: Seq[Double], maxStateRows: Long)

  /** Start the query, drain everything available, stop it, and total
    * its progress. Every trigger counts: a listener registered before
    * the start collects progress events, where `recentProgress` keeps
    * only the last `numRecentProgressUpdates` (100 by default). */
  def drive(s: SparkSession)(start: => StreamingQuery): Drive = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    s.streams.addListener(listener)
    try {
      val q = start
      val (secs, _) = try timed(q.processAllAvailable()) finally q.stop()
      // listener delivery is asynchronous; the termination event comes
      // after every progress event of the run
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!ended.contains(q.runId) && System.nanoTime() < deadline) Thread.sleep(5)
      require(ended.contains(q.runId), s"no termination event for run ${q.runId}")
      val ps = progress.asScala.filter(_.runId == q.runId).toSeq
      val busy = ps.filter(_.numInputRows > 0)
      Drive(secs, ps.map(_.numInputRows).sum, busy.size,
        busy.map(_.durationMs.get("triggerExecution").toDouble / 1000.0),
        ps.flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max))
    } finally s.streams.removeListener(listener)
  }

  /** Write each frame as ONE parquet file `dir`/chunk<i>.parquet, one
    * write at a time, so modification times — the file source's
    * admission order — follow chunk order. Returns `dir`. */
  def spool(dir: String, chunks: Seq[DataFrame]): String = {
    val tmp = Paths.get(dir, "_tmp")
    chunks.zipWithIndex.foreach { case (ch, i) =>
      ch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(dir, f"chunk$i%05d.parquet"))
      FileUtils.deleteDirectory(tmp.toFile)
    }
    dir
  }

  /** The parquet files under `dir` as a stream, one file per trigger. */
  private def filePerTrigger(s: SparkSession, schema: String, dir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Spool the events table into `dir` as `chunks` time-ordered files
    * in [[EnrichStream.rawSchema]]'s shape (ts as nanos long).
    * Time-ordered replay matters: the corpus generators draw event
    * times uniformly, so replaying raw files would push the watermark
    * to near-max in the first batch and drop everything later as
    * late — measuring the drop path, not the operator. */
  def spoolEvents(spark: SparkSession, evDir: String, chunks: Int, dir: String): String = {
    val ev = Tables(spark, evDir, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    // localCheckpoint: the ranged frame is scanned once per chunk
    // below, and range-partitioner sampling is seeded per execution
    // (the q65/globalNtile lesson) — the boundaries must be fixed.
    val ranged = ev.repartitionByRange(chunks, col("ts"))
      .sortWithinPartitions("ts")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(false)
    try spool(dir, (0 until chunks).map(i => ranged.filter(col("pid") === i).drop("pid")))
    finally ranged.unpersist()
  }

  /** Event-time width of one replay chunk in days (ceil), for the
    * rolling-active state bound. */
  private[graft] def chunkSpanDays(spark: SparkSession, spool: String,
      chunks: Int): Long = {
    val mm = spark.read.schema(graft.streaming.EnrichStream.rawSchema)
      .parquet(spool)
      .agg(min("ts"), max("ts")).collect()(0)
    val spanDays = (mm.getLong(1) - mm.getLong(0)) / 1e9 / 86400.0
    math.ceil(spanDays / chunks).toLong
  }

  /** Open-session state bound of a time-ordered replay: every session
    * has >= 1 event and only sessions inside the watermark horizon
    * stay open, so state <= events admitted in the last ~2 batches
    * (current chunk + the one the lagging watermark has not yet
    * closed) — a rate x horizon bound, independent of stream length.
    * Distinct users is NOT the bound: one replay chunk spans days of
    * event time, so each user holds several not-yet-closed sessions
    * at once (measured 119k open sessions for 15k users at x10). */
  private[graft] def openSessionBound(events: Long, chunks: Int): Long =
    2L * (events / chunks + 1L)

  /** Rolling-active state bound: 7-day windows / 1-day slide, so the
    * open horizon (8) + windows spanned by one chunk's event-time
    * width + watermark lag of one batch (bounded by the same width). */
  private[graft] def rollingBound(spark: SparkSession, spool: String, chunks: Int): Long =
    8L + 2L * chunkSpanDays(spark, spool, chunks)

  /** GenData's embedding formula with a caller-set cluster weight
    * and id offset — the drift chunk generator. With the default
    * `centSeed` the drifted vectors share the base corpus's cluster
    * IDENTITIES and only the mass moves (the sweep's knob);
    * MaintenanceSpec passes a different seed family for the
    * new-DOMAIN drift class (new embedding model / new corpus — the
    * quarantine-then-refit story). */
  private[graft] def driftChunk(s: SparkSession,
      n: Int, idBase: Long, w: Double, centSeed: Long = 1000L,
      noise: Double = 0.25): DataFrame = {
    import s.implicits._
    val dim = 64
    s.range(n.toLong).map { jid =>
      val id: Long = idBase + jid
      def gauss(seed: Long) = {
        val r = new scala.util.Random(seed * 0x9e3779b97f4a7c15L + 3)
        Array.fill(dim)(r.nextGaussian())
      }
      val label = (id % 10).toInt
      val cent = gauss(centSeed + label)
      val nz = gauss(7000 + id)
      (id, Array.tabulate(dim)(i => (w * cent(i) + noise * nz(i)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def perSec(n: Long, secs: Double): Num = num(n / math.max(secs, 1e-9), 0)

  /** Online corpus admission (SURVEY §4.2): builds the persisted
    * near-dup index from 90% of a corpus (the q138 split), streams the
    * remaining 10% through [[graft.streaming.AdmitStream]] in `chunks`
    * file triggers, and reports index-build seconds, streamed docs,
    * docs/s, triggers and the admission tally from the decision log —
    * the "per-trigger cost is one pruned probe, state is the at-rest
    * index" claim as a measured number. There is no watermark, so
    * replay order is free; `maxFilesPerTrigger=1` fixes trigger
    * composition. */
  def admit(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val root = tmpDir("graft_admit")
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) === 7

    val basePath = s"$root/base"
    val (buildSecs, _) = timed(sources.DupIndex.writeFrom(spark, docs.filter(!isNew), basePath))
    val baseDocs = docs.filter(!isNew).count()

    val spoolDir = s"$root/spool"
    docs.filter(isNew).repartition(chunks).write.parquet(spoolDir)
    val d = drive(spark)(streaming.AdmitStream.admitSink(
      filePerTrigger(spark, "doc_id BIGINT, text STRING", spoolDir),
      basePath, s"$root/delta", s"$root/verdicts", s"$root/log", s"$root/ckpt"))
    val adm = spark.read.parquet(s"$root/log")
      .agg(sum("n_docs").as("d"), sum("n_novel").as("n"),
        max("rebuild").as("r")).collect()(0)
    // per-trigger wall seconds, in trigger order: the gated-vs-ungated
    // contrast WITHIN one run is host-noise-controlled (this host
    // swings whole runs ±2-3x), where run-vs-run totals are not
    Seq(Obj("pipeline" -> "admit", "base_docs" -> baseDocs, "build_secs" -> num(buildSecs, 1),
      "rows" -> d.rows, "secs" -> num(d.secs, 1), "rows_per_sec" -> perSec(d.rows, d.secs),
      "batches" -> d.batches, "trigger_secs" -> d.triggerSecs.map(num(_, 1)),
      "n_novel" -> adm.getLong(1), "n_dup" -> (adm.getLong(0) - adm.getLong(1)),
      "rebuild_tripped" -> adm.getBoolean(2)))
  }

  /** The stateful enrichment pipelines over an event-time-ordered
    * replay (SURVEY §4.1), one line per pipeline: rows, seconds,
    * rows/s, micro-batches, and max state rows next to that
    * operator's documented state bound — the "state is bounded by X,
    * not history" claims as measured numbers. */
  def stream(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val evDir = args.lift(0).getOrElse("/tmp/estress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val spoolDir = spoolEvents(spark, evDir, chunks, tmpDir("graft_spool"))

    // batch-side comparators for the documented bounds
    val sessBound = openSessionBound(
      Tables(spark, evDir, "events").filter(col("user_id").isNotNull).count(), chunks)
    val ltvUsers = EnrichStream.typed(Tables(spark, evDir, "events"))
      .filter(e => e.event_type.contains("purchase") ||
        e.event_type.contains("return") || e.is_return)
      .map(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .distinct().count()
    val sessDesc = "open sessions <= events in ~2 replay chunks (rate x watermark horizon)"

    def replay() = EnrichStream.replaySource(spark, spoolDir, 1)
    def line(pipeline: String, df: DataFrame, mode: String, bound: Long, desc: String) = {
      val d = drive(spark)(df.writeStream.format("noop").outputMode(mode).start())
      Obj("pipeline" -> pipeline, "rows" -> d.rows, "secs" -> num(d.secs, 1),
        "rows_per_sec" -> perSec(d.rows, d.secs), "batches" -> d.batches,
        "max_state_rows" -> d.maxStateRows, "state_bound" -> bound, "bound" -> desc)
    }
    Seq(
      line("ltv_stateful", EnrichStream.ltvStateful(EnrichStream.typed(replay())).toDF(),
        "append", ltvUsers, "distinct purchase/return users"),
      line("sessions", EnrichStream.sessionizedStream(replay().filter(col("user_id").isNotNull)),
        "append", sessBound, sessDesc),
      line("rolling_active", EnrichStream.rollingActiveStream(replay()), "update",
        rollingBound(spark, spoolDir, chunks),
        "open 7d-window horizon + 2x chunk span (batch-lagged watermark)"),
      // the remaining emission modes (r9): per-closed-session APPEND
      // with collected-struct state (sessionPath — same open-session
      // row bound as sessions; the struct payload is bounded by
      // per-session activity under the 30-min gap) and COMPLETE-mode
      // republication whose state is structurally capped at
      // ≤ #types·168 heatmap cells no matter how long the stream runs
      line("session_paths",
        EnrichStream.sessionPathStream(replay().filter(col("user_id").isNotNull)),
        "append", sessBound, sessDesc),
      line("season", EnrichStream.seasonStream(replay()), "complete", 5L * 168L,
        "structural cap: #event_types x 168 dow-hour cells"))
  }

  /** Bounded queries per retrieve trigger (the serving contract). */
  val QPerTrigger = 20

  /** The lexical serving faces (the admit mold, SURVEY §4.1/§4.2):
    * builds the persisted BM25 index from 90% of a corpus, then
    * measures INGEST — the remaining 10% through
    * [[graft.streaming.LexIngestStream]] in `chunks` file triggers
    * (coverage gate, delta append, decision log) — and RETRIEVE —
    * `qtrig` triggers of [[QPerTrigger]] queries through
    * [[graft.streaming.RetrieveStream]], lexical probe + dense probe
    * against a corpus-fitted [[AnnIndex]], RRF-fused per trigger.
    * The claim under measurement (§2.H): per-trigger cost is a PRUNED
    * probe of at-rest state, so ingest throughput rises with trigger
    * size and retrieve latency is flat in corpus size. */
  def lex(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val qtrig = args.lift(2).map(_.toInt).getOrElse(8)
    val root = tmpDir("graft_lex")
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) === 7

    // base index from the 90% residents
    val basePath = s"$root/lex"
    val (buildSecs, stats) = timed(sources.LexIndex.writeFrom(spark, docs.filter(!isNew), basePath))

    // INGEST face: stream the 10% through the coverage-gated sink
    val spoolDir = s"$root/spool"
    docs.filter(isNew).repartition(chunks).write.parquet(spoolDir)
    val ingest = drive(spark)(streaming.LexIngestStream.ingestSink(
      filePerTrigger(spark, "doc_id BIGINT, text STRING", spoolDir),
      basePath, s"$root/delta", s"$root/quar", s"$root/ilog", stats, s"$root/ickpt"))
    val gate = spark.read.parquet(s"$root/ilog")
      .agg(sum("n_docs_admitted").as("a"), max("rebuild").as("r")).collect()(0)

    // RETRIEVE face: bounded query triggers against postings + cells
    val annPath = s"$root/ann"
    val (annSecs, cents) = timed(AnnIndex.write(spark, dir, annPath))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val qspool = s"$root/qspool"
    docs.join(emb, "doc_id")
      .filter(col("doc_id") < qtrig.toLong * QPerTrigger)
      .select(col("doc_id").as("query_id"), col("text"), col("embedding"))
      .repartition(qtrig).write.parquet(qspool)
    val ret = drive(spark)(streaming.RetrieveStream.retrieveSink(
      filePerTrigger(spark, "query_id BIGINT, text STRING, embedding ARRAY<FLOAT>", qspool),
      basePath, stats, annPath, cents, nprobe = 4,
      s"$root/results", s"$root/rckpt"))

    Seq(Obj("pipeline" -> "lex", "build_secs" -> num(buildSecs, 1),
      "ann_build_secs" -> num(annSecs, 1), "ingest_rows" -> ingest.rows,
      "ingest_secs" -> num(ingest.secs, 1),
      "ingest_rows_per_sec" -> perSec(ingest.rows, ingest.secs),
      "ingest_batches" -> ingest.batches, "admitted" -> gate.getLong(0),
      "rebuild_tripped" -> gate.getBoolean(1), "queries" -> ret.rows,
      "retrieve_secs" -> num(ret.secs, 1),
      "retrieve_per_trigger_secs" -> num(ret.secs / math.max(ret.batches, 1), 2),
      "retrieve_batches" -> ret.batches))
  }

  /** ANN serving under drift (SURVEY §4.2): what happens to recall
    * when the served distribution walks away from the quantizer, and
    * does the refit gate trip BEFORE recall quietly rots?
    *
    *  1. builds the persisted IVF index from a GenData corpus's
    *     embeddings (clusterW = 0.3, the fitted geometry);
    *  2. streams a clusterW sweep through the gated ingest sink
    *     ([[graft.streaming.IngestStream]]), one chunk per trigger;
    *  3. measures each chunk's recall@k of the serving-nprobe probe
    *     against the exact probe (nprobe = all cells — same scorer,
    *     zero approximation) for that chunk's own query vectors:
    *     queries drift WITH the corpus;
    *  4. runs [[Maintenance.maintainAnn]] — the tripped gate's parked
    *     batches are exactly the refit corpus — and re-measures the
    *     most-drifted chunk's recall on the new root.
    *
    * MaintenanceSpec carries the deterministic recall-recovers
    * assertion; this is the scale datapoint. */
  def drift(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x100")
    val chunkSize = args.lift(1).map(_.toInt).getOrElse(5000)
    // nprobe must track cells-per-cluster, not be a constant: this
    // family's exact top-10 are cluster mates spread across the
    // cluster's ~cells/10 sub-cells, so a 2-cell probe of a 448-cell
    // index reads ~4% of the right cluster and recall floors at
    // ~0.15-0.2 EVERYWHERE (measured) — no drift contrast. 16 is
    // ~1/3 of one cluster's cells at x100, the serving point q143's
    // recall gate would pick.
    val nprobe = args.lift(2).map(_.toInt).getOrElse(16)
    val k = 10
    val nQueries = 64
    val root = tmpDir("graft_drift")
    def recall(base: String, delta: Option[String], cents: Array[Array[Double]],
        queries: Array[(Long, Array[Float])]): Double =
      AnnIndex.recallStats(spark, base, delta, cents, queries, nprobe, k)._3

    // 1. the fitted base
    val basePath = s"$root/base"
    val (buildSecs, cents) =
      timed(AnnIndex.writeFrom(spark, Tables(spark, dir, "embeddings"), basePath))
    val baseN = spark.read.parquet(basePath).count()

    // 2. spool the drift sweep. Chunks 0-6 are the MASS drift (cluster
    // weight stepping toward an unclustered cloud — the gate should
    // hold until the geometry is truly gone); the final chunk is the
    // NEW-DOMAIN class (fresh centroid family at full mass — new
    // embedding model), the one the quarantine-then-refit loop exists for.
    val ws = Array((0.30, 1000L), (0.25, 1000L), (0.20, 1000L), (0.15, 1000L),
      (0.10, 1000L), (0.05, 1000L), (0.0, 1000L), (0.45, 5000L))
    val chunks = ws.toSeq.zipWithIndex.map { case ((w, cs), i) =>
      driftChunk(spark, chunkSize, 10000000L + i.toLong * 1000000L, w, cs)
        .localCheckpoint(false)
    }
    val spoolDir = spool(tmpDir("graft_drift_spool"), chunks)
    val chunkQs = chunks.map(_.limit(nQueries).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray))
    chunks.foreach(_.unpersist())

    // 3. the gated ingest, one chunk per trigger. recallEvery = 1: the
    // harness measures EVERY trigger so the per-chunk rows below show
    // exactly when each gate first trips (production samples sparser)
    val (deltaP, quarP, logP) = (s"$root/delta", s"$root/quarantine", s"$root/log")
    val ingestSecs = drive(spark)(streaming.IngestStream.ingestSink(
      filePerTrigger(spark, "vec_id BIGINT, embedding ARRAY<FLOAT>", spoolDir),
      basePath, deltaP, quarP, logP, cents, s"$root/ckpt",
      recallEvery = 1, recallNprobe = nprobe, recallK = k)).secs

    // per-trigger verdicts, in admission (= batch id = drift) order;
    // batch is a PARTITION column — read-side inference types it int,
    // so cast before getLong
    val log = spark.read.parquet(logP)
      .select(col("batch").cast("long"), col("n_rows"), col("refit"),
        col("recall_ppm"), col("recall_refit")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4)))).toMap

    // 4. per-chunk serving recall AFTER the full sweep (base + every
    // admitted batch resident — the steady state a serving tier
    // sees), next to the AT-TRIGGER gate verdicts: `gate_ppm` is the
    // recall the sampled gate measured the moment the chunk landed
    val rows = ws.indices.map { i =>
      val (nRows, refit, gatePpm, recRefit) =
        log.getOrElse(i.toLong, (0L, false, -1L, false))
      Obj("chunk" -> i, "cluster_w" -> num(ws(i)._1, 2), "cent_seed" -> ws(i)._2,
        "rows" -> nRows, "refit" -> refit, "gate_ppm" -> gatePpm,
        "recall_refit" -> recRefit,
        "recall" -> num(recall(basePath, Some(deltaP), cents, chunkQs(i)), 3))
    }
    def firstTrip(sel: ((Long, Boolean, Long, Boolean)) => Boolean): Long =
      ws.indices.map(_.toLong).find(i => log.get(i).exists(sel)).getOrElse(-1L)

    // 5. the reconcile: refit-rebuild over base + delta + quarantine,
    // then the most-drifted chunk's recall on the new root
    val lastQ = chunkQs.last
    val preRefit = recall(basePath, Some(deltaP), cents, lastQ)
    val (refitSecs, (verdict, newCents)) = timed(Maintenance.maintainAnn(spark, basePath,
      deltaP, quarP, logP, s"$root/rebuilt"))
    val postRefit = newCents.fold(-1.0)(recall(s"$root/rebuilt", None, _, lastQ))

    Seq(Obj("pipeline" -> "ann_drift", "base_vecs" -> baseN, "cells" -> cents.length,
      "build_secs" -> num(buildSecs, 1), "chunk_rows" -> chunkSize, "nprobe" -> nprobe,
      "k" -> k, "ingest_secs" -> num(ingestSecs, 1), "chunks" -> rows,
      "first_mse_trip" -> firstTrip(_._2), "first_recall_trip" -> firstTrip(_._4),
      "maintenance" -> verdict.action, "trips" -> verdict.trips,
      "refit_secs" -> num(refitSecs, 1), "drifted_recall_pre" -> num(preRefit, 3),
      "drifted_recall_post" -> num(postRefit, 3)))
  }

  /** A/B of the r13 bounded Lloyd fit sample
    * ([[graft.operators.Similarity.FitSampleFloor]], SURVEY §15):
    * times the IVF coarse-quantizer fit (Lloyd iterations + the full
    * assignment pass, forced via `cells.count()`) at the shipped
    * sampled defaults vs `fitFloor` pushed past n — bit-identical to
    * the unsampled fit, so one binary measures both sides. Also
    * reports each fit's mean quantization error over the FULL corpus
    * and the sampled/full ratio: the quality claim is that bounded-
    * sample centroids quantize the corpus as well as centroids fit on
    * everything (ratio ≈ 1), mirroring the refitGate's MSE statistic. */
  def fit(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args(0)
    val runs = args.lift(1).map(_.toInt).getOrElse(1)
    import spark.implicits._

    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count() // untimed: warms the scan + pins n for the line

    // mean ||v - cent(cid)||^2 over the full corpus — diagnostic
    // print only (double tree merge), never oracle-compared
    def mse(cells: DataFrame, cents: Array[Array[Double]]): Double = {
      val bc = spark.sparkContext.broadcast(cents)
      val (s, c) = cells.select("cid", "ed").as[(Int, Seq[Float])]
        .rdd.mapPartitions { it =>
          val cs = bc.value
          var acc = 0.0; var cnt = 0L
          it.foreach { case (cid, v) =>
            val cv = cs(cid)
            val m = math.min(v.length, cv.length)
            var d = 0.0; var i = 0
            while (i < m) { val t = v(i) - cv(i); d += t * t; i += 1 }
            acc += d; cnt += 1L
          }
          Iterator.single((acc, cnt))
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      bc.unpersist()
      s / math.max(1L, c)
    }

    def time(fitFloor: Long): (Double, Double) = {
      val (secs, (cells, cents)) = bestOf(runs) {
        val fitted = operators.Similarity.ivfCellsOf(spark, emb, None, fitFloor = fitFloor)
        fitted._1.count() // the fit is eager; this forces the assignment pass
        fitted
      }
      // untimed, ONCE: the fit is deterministic so every run's cells
      // are identical, and mse's traversal re-executes the lazy
      // assignment — inside the timed loop it doubled each run's work
      (secs, mse(cells, cents))
    }

    val (fullS, fullE) = time(Long.MaxValue)
    val (sampS, sampE) = time(operators.Similarity.FitSampleFloor)
    Seq(Obj("bench" -> "fit", "dir" -> dir, "n" -> n, "runs" -> runs,
      "full_secs" -> num(fullS, 1), "sampled_secs" -> num(sampS, 1),
      "full_mse" -> num(fullE, 6), "sampled_mse" -> num(sampE, 6),
      "mse_ratio" -> num(sampE / fullE, 4)))
  }

  /** A/B of the r13 dedup-domain scoping path (SURVEY §15): times
    * [[graft.operators.Multimodal.q155]] (phash) or q157 (wav)
    * unscoped vs scoped into `scopes` CONTIGUOUS doc_id ranges
    * (`floor(doc_id / width)` — the ingestion-window sharding shape)
    * over a media corpus. The scoped pair count is ≤ the unscoped one
    * (cross-scope pairs are the contract's exclusion class) — both
    * print so the trade is explicit.
    *
    * Range windows, NOT pmod: near-dup families are temporally local
    * (a re-crawl/re-encode lands near its original — GenData twins sit
    * 3 ids apart), so contiguous windows keep them co-scoped and only
    * window-boundary pairs are excluded. Measured on mm_x300: pmod 10
    * sharding kept 13 of 75,892 pairs (every twin pair straddles
    * shards) vs range windows' ~99.9% — interleaved-id sharding is the
    * one scope shape a deployment must NOT pick.
    *
    * q171 is deliberately NOT offered: its output is a corpus-row
    * verdict frame whose count is constant by construction (one row
    * per image, scoped or not), so the pair-count column would say
    * nothing about the scoping trade — and its banding join IS q155's
    * (hamming64Pairs), which the phash rows already measure. */
  def scope(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args(0)
    val scopes = args.lift(1).map(_.toInt).getOrElse(4)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val family = args.lift(3).getOrElse("phash")

    // window width from the corpus's own id span (untimed; ids are
    // dense from 0 in the GenData family, contiguous ranges either way)
    val maxId = Tables(spark, dir, "media").agg(max("doc_id")).head.getLong(0)
    val width = math.max(1L, maxId / scopes + 1L)
    val scopeCol = floor(col("doc_id") / lit(width)).cast("long")
    val (unscoped, scoped) = family match {
      case "wav" => (operators.Multimodal.q157(spark, dir),
        operators.Multimodal.q157(spark, dir, scopeCol))
      case "phash" => (operators.Multimodal.q155(spark, dir),
        operators.Multimodal.q155(spark, dir, scopeCol))
      // a typo'd family must not silently time phash under the wrong
      // label — the JSON line is what measurement ledgers ingest
      case other => sys.error(s"unknown family '$other' (phash|wav)")
    }
    val (su, nu) = bestOf(runs)(unscoped.count())
    val (ss, ns) = bestOf(runs)(scoped.count())
    Seq(Obj("bench" -> "scope", "dir" -> dir, "family" -> family, "scopes" -> scopes,
      "runs" -> runs, "unscoped_secs" -> num(su, 1), "scoped_secs" -> num(ss, 1),
      "unscoped_pairs" -> nu, "scoped_pairs" -> ns))
  }

  /** One registry query end to end through the noop sink — with the
    * stage printer on, the quickest way to spot a stage that lost its
    * parallelism or picked a bad join. */
  def dbg(spark: SparkSession, args: Seq[String]): Seq[Obj] = {
    val dir = args(0)
    val name = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    val q = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    val (secs, _) = bestOf(runs)(q.fn(spark, dir).write.format("noop").mode("overwrite").save())
    Seq(Obj("bench" -> "dbg", "dir" -> dir, "query" -> name, "runs" -> runs,
      "secs" -> num(secs, 1)))
  }
}
