package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-insensitive content digest of a result, observed on the
  * write that materializes it (so it adds no job and prunes nothing). */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case st: StructType => st.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
  private def hashable(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      // map columns are not hashable; their JSON form is
      if (hasMap(f.dataType)) to_json(struct(col(f.name)))
      else col(f.name)
    }
    xxhash64(cols.toIndexedSeq: _*)
  }
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = new Observation()
    val h = hashable(df)
    (df.observe(o, count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"),
      bit_xor(h).as("x")), o)
  }
  def of(o: Observation): String = {
    val m = o.get
    s"${m("n")}/${m.getOrElse("s", "null")}/${m.getOrElse("x", "null")}"
  }
}

/** The reference's batch analytics surface: a fixed mix of Relational,
  * Events and MlOps registry entries (the paper's hourly revenue,
  * popular products, recommendations, RFM and LTV among them, plus one
  * memoized ML operator) over a seeded star schema. One op is one
  * query, materialized through the `noop` sink (as graft.Bench does)
  * with a content digest observed on the way. */
final class ShopQueries extends Workload {
  val name = "shop_queries"
  // mid-way through the slowest query's share of the ops (each query is
  // a fifth of them), so the tail does not flip between two queries
  val tailPct = 90.0
  // warm queries get faster over the first rounds as the JIT settles;
  // the first two, the slowest, are untimed
  override def settleRounds = 2
  // three rounds outlast the measuring time, so every run measures the
  // same 15 warm queries and the percentiles keep their positions
  override def minRounds = 3
  val Sf = 0.002
  val Mix = Seq("q08_popular_products", "q20_hourly_revenue", "q22_customer_ltv",
    "q30_rfm_segments", "q33_kmeans_rfm")
  private val qs = {
    val all = (graft.operators.Relational.qs ++ graft.operators.Events.qs ++
      graft.operators.MlOps.qs).map(q => q.name -> q).toMap
    Mix.map(all)
  }
  private val coldDigest = mutable.Map.empty[String, String]
  private val mismatches = mutable.ArrayBuffer.empty[String]

  def generate(s: SparkSession, ctx: Ctx): Map[String, Long] =
    Gen.starSchema(s, ctx.in, Sf, ctx.seed)

  private def runQuery(s: SparkSession, ctx: Ctx, q: graft.Q, cold: Boolean): Op = {
    var digest = ""
    val op = ctx.op(s, q.name, 1L) {
      val n0 = System.nanoTime()
      val df = q.fn(s, ctx.in)
      val constructMs = (System.nanoTime() - n0) / 1e6
      val (obs, o) = Digest.observed(df)
      // the cold pass delivers oracle-bearing results for the DuckDB check
      if (cold && q.oracle.isDefined)
        obs.coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/cold/${q.name}")
      else obs.write.format("noop").mode("overwrite").save()
      digest = Digest.of(o)
      Map("construct_ms" -> constructMs)
    }
    if (op.ok) {
      if (cold) coldDigest(q.name) = digest
      else if (coldDigest.get(q.name).exists(_ != digest))
        mismatches += s"${q.name}: warm digest $digest != cold ${coldDigest(q.name)}"
    }
    op
  }

  def cold(s: SparkSession, ctx: Ctx): Seq[Op] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${ctx.out}/cold"))
    val ops = qs.map(q => runQuery(s, ctx, q, cold = true))
    val json = qs.flatMap(q => q.oracle.map(sql => Json.str(q.name) + ":" + Json.str(sql)))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.out}/cold/oracle_sql.json"), json)
    ops
  }

  /** The seed picks where the cycle of queries starts; every round then
    * runs the same cycle, so each query has the same predecessor on
    * every seed. A warm query's time depends on the one before it (q30
    * takes ~0.65 s right after itself and ~1.05 s after q22), so with a
    * new shuffle per round the latencies would follow the shuffle. */
  def round(s: SparkSession, ctx: Ctx, i: Int): Seq[Op] = {
    val start = new scala.util.Random(ctx.seed * 7919).nextInt(qs.size)
    (qs.drop(start) ++ qs.take(start)).map(q => runQuery(s, ctx, q, cold = false))
  }

  /** Warm digests against the cold pass; the DuckDB oracle check of the
    * cold pass runs in the launcher, after this JVM exits. */
  def check(s: SparkSession, ctx: Ctx): Seq[String] =
    mismatches.toSeq ++ qs.filterNot(q => coldDigest.contains(q.name)).map(q => s"${q.name}: no cold result")
}

/** BuildCorpus end to end: one op is a full `BuildCorpus.run` of a
  * seeded documents + embeddings + media corpus into a fresh output
  * directory, then one admission of a held-out slice against the
  * `DupIndex` that build wrote, as AdmitStream's sink admits a trigger:
  * a probe (a read), then a delta append of the novel docs (a small
  * write). The slice is every tenth doc plus planted exact and
  * token-edited copies of base docs. Items are the documents of both.
  * Every build is cold by construction (fresh output, so memo caches
  * only fill), so the first op is both the cold unit and the first
  * measured op. */
final class CorpusBuild extends Workload {
  val name = "corpus_build"
  val tailPct = 100.0
  override def coldIsMeasured = true
  override def minRounds = 0
  val Docs = 220
  val Vecs = 100
  val Media = 50
  /** planted copies of base docs in the held-out slice: exact, edited */
  val Exact = 8
  val Edited = 8
  private var builds = 0
  private var baseDocs, heldDocs = 0L
  private def base(ctx: Ctx) = s"${ctx.in}/base"
  private def heldOut(ctx: Ctx) = s"${ctx.in}/held_out"
  private def held = pmod(col("doc_id"), lit(10)) === 7

  def generate(s: SparkSession, ctx: Ctx): Map[String, Long] = {
    Gen.documents(s, s"${ctx.in}/all", Docs, ctx.seed)
    val all = s.read.parquet(s"${ctx.in}/all/documents.parquet")
    all.filter(!held).write.mode("overwrite").parquet(s"${base(ctx)}/documents.parquet")
    val picks = new scala.util.Random(ctx.seed * 31 + 5)
      .shuffle((0 until Docs).filter(_ % 10 != 7)).take(Exact + Edited).map(_.toLong)
    all.filter(held).unionByName(Gen.copies(s, all, picks, Exact, Docs.toLong, ctx.seed).drop("exact"))
      .write.mode("overwrite").parquet(s"${heldOut(ctx)}/documents.parquet")
    val nHeld = (0 until Docs).count(_ % 10 == 7).toLong
    baseDocs = Docs - nHeld
    heldDocs = nHeld + Exact + Edited
    Map(
      "documents" -> baseDocs,
      "held_out" -> heldDocs,
      "planted_exact" -> Exact.toLong, "planted_edited" -> Edited.toLong,
      "embeddings" -> Gen.embeddings(s, base(ctx), Vecs, ctx.seed),
      "media" -> Gen.media(s, base(ctx), Media, ctx.seed, ctx.fixtures))
  }

  /** The ids Gen.copies gives the planted exact copies. */
  private def plantedExact = (Docs.toLong until Docs.toLong + Exact).toSeq

  private def build(s: SparkSession, ctx: Ctx): Op = {
    builds += 1
    val out = s"${ctx.out}/build$builds"
    ctx.op(s, s"build$builds", baseDocs + heldDocs) {
      val n0 = System.nanoTime()
      graft.BuildCorpus.run(s, base(ctx), out)
      val n1 = System.nanoTime()
      admit(s, ctx, out)
      Map("build_s" -> (n1 - n0) / 1e9, "admit_s" -> (System.nanoTime() - n1) / 1e9)
    }
  }

  /** The held-out slice against the build's dup index, in the calls
    * AdmitStream's sink makes per trigger: one tokenize shared by the
    * probe and the delta append of the novel docs. */
  private def admit(s: SparkSession, ctx: Ctx, out: String): Unit = {
    import graft.sources.DupIndex
    val idx = s"$out/dupindex"
    val docs = s.read.parquet(s"${heldOut(ctx)}/documents.parquet").select("doc_id", "text")
    val capped = DupIndex.cappedShingles(s, idx, docs).localCheckpoint(false)
    val verdicts = DupIndex.probe(s, idx, docs, Some(s"$out/delta"), excludeBatch = Some(1L),
      preCapped = Some(capped)).localCheckpoint(false)
    verdicts.write.mode("overwrite").parquet(s"$out/verdicts")
    DupIndex.appendDelta(s, idx, s"$out/delta",
      docs.join(verdicts.filter(col("verdict") === "novel").select("doc_id"), "doc_id"), 1L,
      preCapped = Some(capped))
  }

  def cold(s: SparkSession, ctx: Ctx): Seq[Op] = Seq(build(s, ctx))
  def round(s: SparkSession, ctx: Ctx, i: Int): Seq[Op] = Seq(build(s, ctx))

  /** stage -> (n_in, n_out, secs, detail), in ledger order */
  private def ledger(s: SparkSession, dir: String) =
    scala.collection.immutable.ListMap(
      s.read.parquet(s"$dir/decisions.parquet").orderBy("stage_id").collect()
        .map(r => r.getAs[String]("stage") ->
          (r.getAs[Long]("n_in"), r.getAs[Long]("n_out"), r.getAs[Double]("secs"),
            r.getAs[String]("detail"))).toIndexedSeq: _*)

  /** The build's ledger stages, then the admission as one phase. */
  override def phases(s: SparkSession, ctx: Ctx, op: Op): Seq[(String, Double)] =
    ledger(s, s"${ctx.out}/${op.name}").toSeq.map { case (st, r) => st -> r._3 } :+
      ("admit" -> op.attrs.getOrElse("admit_s", 0.0))

  /** The build's document flow chains through its ledger (each doc
    * stage's rows in are the previous one's rows out; media drops sit
    * between decontaminate and mix_pack), the manifest's docs sum to
    * the shipped rows, and the content is right: shipped ids are
    * distinct intake ids and the planted exact pair (doc 1 copies
    * doc 0) is not shipped twice. The admission gives every held-out
    * doc one verdict and judges no planted exact copy novel. */
  def check(s: SparkSession, ctx: Ctx): Seq[String] = {
    val dir = s"${ctx.out}/build$builds"
    val l = ledger(s, dir)
    def in(st: String) = l(st)._1
    def out(st: String) = l(st)._2
    val docs = s.read.parquet(s"$dir/corpus/documents.parquet")
    val shipped = docs.count()
    val ids = docs.select("doc_id").distinct()
    val manifest = s.read.parquet(s"$dir/manifest.parquet").agg(sum("n_docs")).collect()(0).getLong(0)
    val foreign = ids.join(s.read.parquet(s"${base(ctx)}/documents.parquet"), Seq("doc_id"), "left_anti").count()
    val pair = ids.filter(col("doc_id").isin(0L, 1L)).count()
    import s.implicits._
    val exact = plantedExact.toDF("doc_id")
    val verdicts = s.read.parquet(s"$dir/verdicts")
    val judged = verdicts.select("doc_id").distinct().count()
    val exactNovel = verdicts.join(exact, "doc_id").filter(col("verdict") === "novel").count()
    val mediaDrop = l.get("image_families").map(f => l("media_gate")._1 - f._2).getOrElse(0L)
    Seq(
      ("intake.n_in == normalize.n_in", in("intake") == in("normalize")),
      ("normalize.n_out == gate_keep.n_in", out("normalize") == in("gate_keep")),
      ("gate_keep.n_out == decontaminate.n_in", out("gate_keep") == in("decontaminate")),
      ("decontaminate.n_out - media drops <= mix_pack.n_in <= decontaminate.n_out",
        in("mix_pack") <= out("decontaminate") && in("mix_pack") >= out("decontaminate") - mediaDrop),
      ("mix_pack.n_out == shards.n_in", out("mix_pack") == in("shards")),
      ("shards.n_in == shipped rows", in("shards") == shipped),
      ("sum(manifest.n_docs) == shipped rows", manifest == shipped),
      ("dup_index.n_in == normalize.n_out", in("dup_index") == out("normalize")),
      ("media stages ran", l.contains("media_gate") && l.contains("image_families")),
      (s"shipped ids distinct (${ids.count()} of $shipped)", ids.count() == shipped),
      (s"shipped ids are intake ids ($foreign foreign)", foreign == 0),
      (s"exact pair 0/1 shipped once ($pair)", pair <= 1),
      (s"one verdict per held-out doc ($judged of $heldDocs)", judged == heldDocs && verdicts.count() == heldDocs),
      (s"no planted exact copy judged novel ($exactNovel)", exactNovel == 0))
      .collect { case (what, false) => s"corpus check failed: $what ($l)" }
  }

  override def layers(s: SparkSession, ctx: Ctx, measured: Seq[Op]): Map[String, Double] = {
    val ok = measured.filter(_.ok)
    val ls = ok.map(o => ledger(s, s"${ctx.out}/${o.name}")).filter(_.nonEmpty)
    val dir = s"${ctx.out}/build$builds"
    if (ls.isEmpty) Map.empty else Layers.BuildStages.flatMap { st =>
      Seq(s"build.${st}_s" -> Stats.median(ls.map(_.get(st).map(_._3).getOrElse(0.0))),
        s"build.${st}_rows_out" -> ls.last.get(st).map(_._2.toDouble).getOrElse(0.0))
    }.toMap ++ Map(
      "sources.admit_ms" -> Stats.median(ok.map(_.attrs.getOrElse("admit_s", 0.0) * 1000)),
      // the dup index builds on its own thread; the ledger records its own wall
      "sources.index_build_ms" -> Stats.median(ls.map(l => l.get("dup_index")
        .flatMap(d => "own_wall=([0-9.]+)s".r.findFirstMatchIn(d._4)).map(_.group(1).toDouble * 1000)
        .getOrElse(0.0))),
      "sources.index_mb" -> Util.dirBytes(new java.io.File(s"$dir/dupindex")) / 1e6,
      "sources.delta_mb" -> Util.dirBytes(new java.io.File(s"$dir/delta")) / 1e6)
  }
}

/** Shared runner of the two stream workloads: a replay of a spool of
  * small files, one file per trigger, through freshly started queries.
  * One op is one trigger, timed by Spark's own progress report. */
object Replay {
  def triggers(q: StreamingQuery, label: String, itemsOf: StreamingQueryProgress => Long): Seq[Op] = {
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    progs.toSeq.filter(_.durationMs.containsKey("triggerExecution")).map { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val st = p.stateOperators
      Op(s"$label#${p.batchId}", s"${p.runId}:${p.batchId}", t0, t0 + d("triggerExecution"),
        ok = true, items = itemsOf(p), attrs = Map(
          "add_batch_ms" -> d("addBatch"), "get_batch_ms" -> d("getBatch"),
          "latest_offset_ms" -> d("latestOffset"), "planning_ms" -> d("queryPlanning"),
          "wal_commit_ms" -> d("walCommit"), "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
          "state_mb" -> st.map(_.memoryUsedBytes).sum / 1e6,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum.toDouble))
    }
  }

  /** Run one replay; a query that throws counts as one failed op. */
  def guarded(label: String, t0: Double)(body: => Seq[Op]): Seq[Op] =
    try body
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] replay $label failed: $e")
      Seq(Op(label, "", t0, System.currentTimeMillis().toDouble, ok = false))
    }

  def streamingLayers(measured: Seq[Op]): Map[String, Double] = {
    val ok = measured.filter(_.ok)
    def mean(k: String) = if (ok.isEmpty) 0.0 else ok.map(_.attrs.getOrElse(k, 0.0)).sum / ok.size
    def maxOf(k: String) = ok.map(_.attrs.getOrElse(k, 0.0)).foldLeft(0.0)(math.max)
    Map(
      "streaming.add_batch_ms" -> mean("add_batch_ms"),
      "streaming.get_batch_ms" -> mean("get_batch_ms"),
      "streaming.latest_offset_ms" -> mean("latest_offset_ms"),
      "streaming.planning_ms" -> mean("planning_ms"),
      "streaming.wal_commit_ms" -> mean("wal_commit_ms"),
      "streaming.state_rows" -> maxOf("state_rows"),
      "streaming.state_mb" -> maxOf("state_mb"),
      "streaming.state_commit_ms" -> mean("state_commit_ms"))
  }
}

/** The Flink-style keyed enrichment stream: event-time-ordered events
  * through EnrichStream.ltvStateful (per-user LTV in keyed state), then
  * EnrichStream.sessionizedStream (session windows). Items are events.
  * Every replay starts fresh queries on fresh checkpoints, so the cold
  * replay is also the first measured round. */
final class EnrichStreamWl extends Workload {
  val name = "enrich_stream"
  val tailPct = 60.0
  override def coldIsMeasured = true
  override def minRounds = 0
  override def singleThreadBaseline = true
  val Events = 6000
  val Files = 6
  private var passes = 0
  private def spool(ctx: Ctx) = s"${ctx.in}/spool"

  def generate(s: SparkSession, ctx: Ctx): Map[String, Long] = {
    Gen.spool(Gen.events(s, Events, ctx.seed), col("ts"), Files, spool(ctx))
    Map("events" -> Events.toLong, "files" -> Files.toLong)
  }

  private def replay(s: SparkSession, ctx: Ctx): Seq[Op] = {
    passes += 1
    Util.rmrf(new java.io.File(s"${ctx.out}/pass${passes - 1}"))
    replayOf(s, spool(ctx), s"${ctx.out}/pass$passes", s"$passes")
  }

  private def replayOf(s: SparkSession, from: String, dir: String, tag: String): Seq[Op] = {
    import graft.streaming.EnrichStream
    val t0 = System.currentTimeMillis().toDouble
    Replay.guarded(s"ltv$tag", t0) {
      val ltv = EnrichStream.ltvStateful(EnrichStream.typed(
          EnrichStream.replaySource(s, from, 1)))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", s"$dir/ltv_ckpt").start(s"$dir/ltv")
      Replay.triggers(ltv, s"ltv$tag", _.numInputRows)
    } ++ Replay.guarded(s"sessions$tag", t0) {
      val sessions = EnrichStream.sessionizedStream(
          EnrichStream.replaySource(s, from, 1).filter(col("user_id").isNotNull))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$dir/sess_ckpt").start()
      // items are counted once per event, on the LTV query
      Replay.triggers(sessions, s"sessions$tag", _ => 0L)
    }
  }

  def cold(s: SparkSession, ctx: Ctx): Seq[Op] = replay(s, ctx)
  def round(s: SparkSession, ctx: Ctx, i: Int): Seq[Op] = replay(s, ctx)

  /** The last streamed LTV of every user equals a batch LTV over the
    * same events. */
  def check(s: SparkSession, ctx: Ctx): Seq[String] = {
    import graft.streaming.EnrichStream
    val ev = EnrichStream.typed(s.read.schema(EnrichStream.rawSchema).parquet(spool(ctx))
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)")))
    val rel = ev.filter(col("event_type").contains("purchase") ||
      col("event_type").contains("return") || col("is_return"))
    val batch = rel.groupBy("user_id").agg((sum(
      when(col("is_return"), -floor(abs(col("value")) * 100.0 + 0.5))
        .otherwise(floor(col("value") * 100.0 + 0.5))).cast("long") / 100.0).as("ltv_batch"))
    val streamed = s.read.parquet(s"${ctx.out}/pass$passes/ltv")
      .join(rel.select("event_id", "ts_us"), "event_id")
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rk") === 1).select(col("user_id"), col("ltv").as("ltv_stream"))
    val bad = batch.join(streamed, Seq("user_id"), "full_outer")
      .filter(!(col("ltv_batch") <=> col("ltv_stream"))).count()
    val users = batch.count()
    if (users == 0) Seq("enrich check: no purchase users")
    else if (bad > 0) Seq(s"enrich check: $bad of $users users' streamed LTV != batch LTV")
    else Seq.empty
  }

  override def layers(s: SparkSession, ctx: Ctx, measured: Seq[Op]): Map[String, Double] =
    Replay.streamingLayers(measured)
}

/** Online corpus admission: AdmitStream.admitSink against a DupIndex
  * built from 90% of a seeded corpus; the other 10%, plus planted exact
  * and token-edited copies of base docs, stream one file per trigger.
  * Items are streamed documents. */
final class AdmitStreamWl extends Workload {
  val name = "admit_stream"
  val tailPct = 50.0
  val Docs = 600
  val Files = 3
  /** planted copies of base docs: exact, then token-edited */
  val Exact = 20
  val Edited = 20
  private var passes = 0
  private var streamed = 0L
  private def base(ctx: Ctx) = s"${ctx.in}/dupindex"
  private def spool(ctx: Ctx) = s"${ctx.in}/spool"
  private def isNew = pmod(col("doc_id"), lit(10)) === 7

  def generate(s: SparkSession, ctx: Ctx): Map[String, Long] = {
    Gen.documents(s, s"${ctx.in}/corpus", Docs, ctx.seed)
    val docs = s.read.parquet(s"${ctx.in}/corpus/documents.parquet")
    val picks = new scala.util.Random(ctx.seed * 31 + 9)
      .shuffle((0 until Docs).filter(_ % 10 != 7)).take(Exact + Edited).map(_.toLong)
    val planted = Gen.copies(s, docs, picks, Exact, Docs.toLong, ctx.seed)
    val stream = docs.filter(isNew).select("doc_id", "text")
      .unionByName(planted.select("doc_id", "text"))
    Gen.spool(stream, xxhash64(col("doc_id"), lit(ctx.seed)), Files, spool(ctx))
    planted.filter(col("exact")).select("doc_id").write.mode("overwrite")
      .parquet(s"${ctx.in}/planted_exact")
    streamed = s.read.parquet(spool(ctx)).count()
    Map("documents" -> Docs.toLong, "streamed" -> streamed,
      "planted_exact" -> Exact.toLong, "planted_edited" -> Edited.toLong)
  }

  override def prepare(s: SparkSession, ctx: Ctx): Map[String, Double] = {
    val n0 = System.nanoTime()
    val docs = s.read.parquet(s"${ctx.in}/corpus/documents.parquet").select("doc_id", "text")
    graft.sources.DupIndex.writeFrom(s, docs.filter(!isNew), base(ctx))
    Map("sources.index_build_ms" -> (System.nanoTime() - n0) / 1e6,
      "sources.index_mb" -> Util.dirBytes(new java.io.File(base(ctx))) / 1e6)
  }

  private def replay(s: SparkSession, ctx: Ctx): Seq[Op] = {
    passes += 1
    val dir = s"${ctx.out}/pass$passes"
    Util.rmrf(new java.io.File(s"${ctx.out}/pass${passes - 1}"))
    Replay.guarded(s"admit$passes", System.currentTimeMillis().toDouble) {
      val stream = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(spool(ctx))
      val q = graft.streaming.AdmitStream.admitSink(stream, base(ctx), s"$dir/delta",
        s"$dir/verdicts", s"$dir/log", s"$dir/ckpt")
      Replay.triggers(q, s"admit$passes", _.numInputRows)
    }
  }

  def cold(s: SparkSession, ctx: Ctx): Seq[Op] = replay(s, ctx)
  def round(s: SparkSession, ctx: Ctx, i: Int): Seq[Op] = replay(s, ctx)

  /** Every streamed doc gets one verdict (n_novel + n_dup == streamed)
    * and every planted exact copy of a base doc is judged a dup. */
  def check(s: SparkSession, ctx: Ctx): Seq[String] = {
    val dir = s"${ctx.out}/pass$passes"
    val log = s.read.parquet(s"$dir/log").agg(sum("n_docs"), sum("n_novel")).collect()(0)
    val (nDocs, nNovel) = (log.getLong(0), log.getLong(1))
    val v = s.read.parquet(s"$dir/verdicts")
    val nVerdicts = v.select("doc_id").distinct().count()
    val exactNovel = v.join(s.read.parquet(s"${ctx.in}/planted_exact"), "doc_id")
      .filter(col("verdict") === "novel").count()
    Seq(
      (s"n_novel + n_dup ($nNovel + ${nDocs - nNovel}) == streamed ($streamed)", nDocs == streamed),
      (s"one verdict per streamed doc ($nVerdicts)", nVerdicts == streamed),
      (s"planted exact copies judged novel: $exactNovel", exactNovel == 0))
      .collect { case (what, false) => s"admit check failed: $what" }
  }

  override def layers(s: SparkSession, ctx: Ctx, measured: Seq[Op]): Map[String, Double] =
    Replay.streamingLayers(measured) + ("sources.delta_mb" ->
      Util.dirBytes(new java.io.File(s"${ctx.out}/pass$passes/delta")) / 1e6)
}
