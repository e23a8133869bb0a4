package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Every developer scenario runs end to end on tiny inputs and prints
  * JSON lines with its documented keys, in order; plus the shared
  * stream driver's every-trigger accounting. */
class ScenariosSpec extends AnyFunSuite {
  import TestSpark.{spark, sf, withTmpDir}

  private val mapper = new ObjectMapper()

  /** Run `name` and parse its lines, checking each one's key order. */
  private def lines(name: String, args: String*)(keys: String*): Seq[JsonNode] = {
    val out = Scenarios.run(spark, name, args)
    assert(out.nonEmpty, s"$name printed nothing")
    out.map { l =>
      val node = mapper.readTree(l)
      assert(node.fieldNames().asScala.toSeq == keys, s"$name keys: $l")
      node
    }
  }

  test("admit scenario streams the 10% split and tallies every admitted doc") {
    val Seq(j) = lines("admit", sf, "2")("pipeline", "base_docs", "build_secs", "rows",
      "secs", "rows_per_sec", "batches", "trigger_secs", "n_novel", "n_dup",
      "rebuild_tripped")
    assert(j.get("batches").asInt == 2 && j.get("trigger_secs").size == 2, s"$j")
    assert(j.get("n_novel").asLong + j.get("n_dup").asLong == j.get("rows").asLong, s"$j")
  }

  test("stream scenario: one line per pipeline, every spooled event replayed") {
    val js = lines("stream", sf, "2")("pipeline", "rows", "secs", "rows_per_sec",
      "batches", "max_state_rows", "state_bound", "bound")
    val events = Tables(spark, sf, "events").count()
    assert(js.map(_.get("pipeline").asText) ==
      Seq("ltv_stateful", "sessions", "rolling_active", "session_paths", "season"))
    js.foreach { j =>
      assert(j.get("rows").asLong == events && j.get("batches").asInt == 2, s"$j")
      assert(j.get("max_state_rows").asLong <= j.get("state_bound").asLong, s"$j")
    }
  }

  test("lex scenario: ingest and retrieve faces both drain") {
    val Seq(j) = lines("lex", sf, "2", "2")("pipeline", "build_secs", "ann_build_secs",
      "ingest_rows", "ingest_secs", "ingest_rows_per_sec", "ingest_batches", "admitted",
      "rebuild_tripped", "queries", "retrieve_secs", "retrieve_per_trigger_secs",
      "retrieve_batches")
    assert(j.get("ingest_batches").asInt == 2 && j.get("retrieve_batches").asInt == 2, s"$j")
    assert(j.get("ingest_rows").asLong > 0 && j.get("queries").asLong > 0, s"$j")
  }

  test("drift scenario: one row per sweep chunk, then the refit") {
    val Seq(j) = lines("drift", sf, "50", "2")("pipeline", "base_vecs", "cells",
      "build_secs", "chunk_rows", "nprobe", "k", "ingest_secs", "chunks", "first_mse_trip",
      "first_recall_trip", "maintenance", "trips", "refit_secs", "drifted_recall_pre",
      "drifted_recall_post")
    val chunks = j.get("chunks").elements.asScala.toSeq
    assert(chunks.map(_.get("chunk").asInt) == (0 until 8), s"$j")
    chunks.foreach(c => assert(c.fieldNames.asScala.toSeq == Seq("chunk", "cluster_w",
      "cent_seed", "rows", "refit", "gate_ppm", "recall_refit", "recall"), s"$c"))
  }

  test("fit scenario: full vs sampled fit on one corpus") {
    val Seq(j) = lines("fit", sf, "1")("bench", "dir", "n", "runs", "full_secs",
      "sampled_secs", "full_mse", "sampled_mse", "mse_ratio")
    assert(j.get("n").asLong == Tables(spark, sf, "embeddings").count(), s"$j")
  }

  test("scope scenario: scoped pairs never exceed unscoped pairs") {
    withTmpDir("scn-media") { dir =>
      GenData.generate(spark, dir, 300, 50, None, 0.3, "salad", Some(150))
      val Seq(j) = lines("scope", dir, "2", "1")("bench", "dir", "family", "scopes",
        "runs", "unscoped_secs", "scoped_secs", "unscoped_pairs", "scoped_pairs")
      assert(j.get("scoped_pairs").asLong <= j.get("unscoped_pairs").asLong, s"$j")
    }
  }

  test("dbg scenario times one registry query") {
    val Seq(j) = lines("dbg", sf, "q01_pricing_summary", "1")(
      "bench", "dir", "query", "runs", "secs")
    assert(j.get("query").asText == "q01_pricing_summary")
  }

  test("unknown scenario names are rejected with the usage line") {
    val e = intercept[IllegalArgumentException](Scenarios.run(spark, "nope", Nil))
    assert(e.getMessage.contains("admit|stream|lex|drift|fit|scope|dbg"))
  }

  test("drive counts every trigger past the retained-progress window") {
    val files = 6
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.getOption(key)
    withTmpDir("scn-drive") { root =>
      val dir = Scenarios.spool(s"$root",
        (0 until files).map(i => spark.range(i * 10L, i * 10L + 7L + i).toDF("id")))
      val total = spark.read.parquet(dir).count()
      spark.conf.set(key, "2") // keeps fewer progress entries than triggers
      try {
        val d = Scenarios.drive(spark)(spark.readStream.schema("id BIGINT")
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .writeStream.format("noop").start())
        assert(d.rows == total, s"drove ${d.rows} of $total rows")
        assert(d.batches == files && d.triggerSecs.size == files, s"$d")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
