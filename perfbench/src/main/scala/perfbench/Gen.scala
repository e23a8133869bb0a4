package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives byte-identical inputs;
  * every output lands under the run's own work directory, except the
  * seed-independent media payloads, made once into a fixtures dir.
  *
  * - [[starSchema]]: the shipped test data's star schema + events,
  *   drawn from the seed at a chosen scale, in a seeded row order and
  *   row-to-file split.
  * - [[documents]], [[embeddings]], [[media]], [[events]]: the
  *   GenData statistical family (word-salad docs with planted exact
  *   and near duplicates, clustered 64-dim vectors with planted
  *   twins, level-structured media payloads, uniform-time events
  *   with ~5% NULL users and values), drawn from the seed.
  */
object Gen extends Serializable {
  private val Files = 4

  private def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + salt
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** (a, b) with gcd(a, n) == 1: k -> (a*k + b) mod n is a bijection of [0, n). */
  private def affine(n: Long, seed: Long, salt: Long): (Long, Long) = {
    val r = new scala.util.Random(mix(seed, salt))
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + r.nextInt(math.max(1, (n - 1).toInt)).toLong
    while (gcd(a, n) != 1) a += 1
    (a, r.nextInt(n.toInt.max(1)).toLong)
  }

  /** Remap the non-negative ids of `c` through the bijection; NULLs and
    * negative ids pass through unchanged. */
  private def remap(c: Column, n: Long, ab: (Long, Long)): Column =
    when(c.isNull || c < 0, c).otherwise(pmod(c * lit(ab._1) + lit(ab._2), lit(n)))

  /** The TPC-H-ish star schema + events of the shipped test data, at
    * scale factor `sf` (sf 0.01 = 1,500 customers, 15,000 orders, ~60,000
    * lineitems, 10,000 events), drawn from the seed with the same
    * columns, types and value ranges. Keys are dense, FKs always
    * resolve, and event user ids share the customer key space. Row i
    * of a table holds key perm(i), a seeded bijection, so row order and
    * the row-to-file split change with the seed without a shuffle.
    * Returns row counts per table. */
  def starSchema(s: SparkSession, out: String, sf: Double, seed: Long): Map[String, Long] = {
    import s.implicits._
    val nCust = (150000 * sf).toLong.max(10)
    val nSupp = (10000 * sf).toLong.max(5)
    val nPart = (200000 * sf).toLong.max(10)
    val nOrd = (1500000 * sf).toLong.max(10)
    val nEv = (1000000 * sf).toLong.max(10)
    val nUsers = (nCust / 10).max(5)
    def rng(table: Int, k: Long) = new scala.util.Random(mix(seed, k * 64 + table))
    def cents(r: scala.util.Random, lo: Double, hi: Double) =
      math.floor((lo + r.nextDouble() * (hi - lo)) * 100.0 + 0.5) / 100.0
    val day = 86400L * 1000000L
    val d1995 = 788918400L * 1000000L // 1995-01-01T00:00Z, micros
    val ev0 = 1704067200L * 1000000L // 2024-01-01T00:00Z, micros
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val colors = Array("red", "blue", "green", "small", "large", "steel", "plain")
    val nouns = Array("widget", "bolt", "ring", "gear", "valve", "spring")
    val types = Array("ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val evTypes = Array("signup", "purchase", "view", "click", "error")
    def ts(c: String) = timestamp_micros(col(c)).as(c)
    // row i -> key perm(i), a seeded bijection of [0, n) per table
    def keys(n: Long, salt: Long) = {
      val (a, b) = affine(n, seed, salt)
      s.range(0, n, 1, Files).map(i => (a * i + b) % n)
    }
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> keys(nCust, 1).map { k =>
        val r = rng(1, k)
        (k, f"Customer#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99), segs(r.nextInt(5)))
      }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> keys(nSupp, 2).map { k =>
        val r = rng(2, k)
        (k, f"Supplier#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
      }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> keys(nPart, 3).map { k =>
        val r = rng(3, k)
        (k, s"${colors(r.nextInt(colors.length))} ${nouns(r.nextInt(nouns.length))}",
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)), 1 + r.nextInt(50),
          900.0 + (k % 1000) / 10.0)
      }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> keys(nOrd, 4).map { k =>
        val r = rng(4, k)
        (k, r.nextInt(nCust.toInt).toLong, "FOP".charAt(r.nextInt(3)).toString,
          cents(r, 1000.0, 500000.0), d1995 + r.nextInt(2404) * day, prios(r.nextInt(5)))
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority").select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), ts("o_orderdate"), col("o_orderpriority")),
      "lineitem" -> keys(nOrd, 5).flatMap { k =>
        val r = rng(5, k)
        // the order's date, drawn as the orders table drew it
        val ro = rng(4, k); ro.nextInt(nCust.toInt); ro.nextInt(3); ro.nextDouble()
        val od = d1995 + ro.nextInt(2404) * day
        (1 to 1 + r.nextInt(7)).map { ln =>
          val q = 1 + r.nextInt(50)
          (k, r.nextInt(nPart.toInt).toLong, r.nextInt(nSupp.toInt).toLong, ln, q.toDouble,
            cents(r, 900.0 * q, 3000.0 * q), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            "RAN".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
            od + (1 + r.nextInt(121)) * day)
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        .withColumn("l_shipdate", timestamp_micros(col("l_shipdate"))),
      "events" -> keys(nEv, 6).map { k =>
        val r = rng(6, k)
        (k, ev0 + (r.nextDouble() * 30 * day).toLong, r.nextInt(nUsers.toInt).toLong,
          evTypes(r.nextInt(5)), cents(r, 0.01, 400.0), s"""{"k": ${r.nextInt(100)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts"))))
    tables.foreach { case (n, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    }
    val lines = (0L until nOrd).map(k => 1L + rng(5, k).nextInt(7)).sum
    Map("region" -> 5L, "nation" -> 25L, "customer" -> nCust, "supplier" -> nSupp,
      "part" -> nPart, "orders" -> nOrd, "lineitem" -> lines, "events" -> nEv)
  }

  // ---- GenData's documents/embeddings/events family, seeded ----

  private def vocabSize(nDocs: Int) = math.max(31, (31 * math.cbrt(nDocs / 5000.0)).round.toInt)

  /** Word-salad docs of 40..70 tokens, 20 sources, 5 langs; id % 625 == 1
    * copies id-1 exactly, id % 500 == 3 rewrites ~10% of id-1's tokens. */
  def documents(s: SparkSession, out: String, n: Int, seed: Long): Long = {
    import s.implicits._
    val vocabN = vocabSize(n)
    val langs = Array("en", "de", "fr", "es", "ja")
    val docs = s.range(n.toLong).repartition(Files).map { jid =>
      val id: Long = jid
      def rng(i: Long) = new scala.util.Random(mix(seed, i * 2654435761L + 17))
      def text(r: scala.util.Random) =
        Array.fill(40 + r.nextInt(31))(s"w${r.nextInt(vocabN)}").mkString(" ")
      val r = rng(id)
      val body =
        if (id % 625 == 1) text(rng(id - 1))
        else if (id % 500 == 3)
          text(rng(id - 1)).split(' ')
            .map(t => if (r.nextInt(10) == 0) s"w${r.nextInt(vocabN)}" else t).mkString(" ")
        else text(r)
      (id, body, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}", body.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    n.toLong
  }

  /** Copies of the `picks` rows of a documents table under new ids
    * from `firstId`: the first `exact` keep their text verbatim, the
    * rest rewrite ~10% of their tokens. Columns are the documents
    * table's plus `exact`. */
  def copies(s: SparkSession, docs: DataFrame, picks: Seq[Long], exact: Int,
      firstId: Long, seed: Long): DataFrame = {
    import s.implicits._
    val plan = picks.zipWithIndex.map { case (src, i) => (src, firstId + i, i < exact) }
      .toDF("src", "new_id", "exact")
    docs.join(plan, col("doc_id") === col("src"))
      .select(col("new_id"), col("text"), col("lang"), col("source"), col("exact"))
      .as[(Long, String, String, String, Boolean)].map { case (id, text, lang, src, ex) =>
        val t = if (ex) text else {
          val r = new scala.util.Random(mix(seed, id * 131 + 7))
          text.split(' ').map(w => if (r.nextInt(10) == 0) s"w${r.nextInt(31)}" else w)
            .mkString(" ")
        }
        (id, t, lang, src, t.length.toLong, ex)
      }.toDF("doc_id", "text", "lang", "source", "n_chars", "exact")
  }

  /** 64-dim vectors in 10 Gaussian clusters; id % 143 == 1 is a
    * high-cosine twin of id-1. */
  def embeddings(s: SparkSession, out: String, n: Int, seed: Long): Long = {
    import s.implicits._
    val dim = 64
    s.range(n.toLong).repartition(Files).map { jid =>
      val id: Long = jid
      def gauss(k: Long) = {
        val r = new scala.util.Random(mix(seed, k * 31 + 3))
        Array.fill(dim)(r.nextGaussian())
      }
      val twin = id % 143 == 1
      val base = if (twin) id - 1 else id
      val label = (base % 10).toInt
      val cent = gauss(1000 + label)
      val noise = gauss(7000 + base)
      val tw = if (twin) gauss(9000000 + id).map(_ * 0.15) else new Array[Double](dim)
      (id, Array.tabulate(dim)(i => (0.3 * cent(i) + 0.25 * noise(i) + tw(i)).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    n.toLong
  }

  /** GenData's media payload classes for `n` docs. The payloads are
    * GenData's own and do not depend on the seed, so they are made
    * once into `fixtures` and reused; the seed draws which doc gets
    * which payload, through a bijection of the doc ids. */
  def media(s: SparkSession, out: String, n: Int, seed: Long, fixtures: String): Long = {
    val src = new java.io.File(fixtures, s"media_$n")
    if (!new java.io.File(src, "media.parquet/_SUCCESS").exists) {
      val tmp = new java.io.File(fixtures, s"media_$n.tmp")
      Util.rmrf(tmp)
      graft.GenData.generate(s, tmp.getPath, 0, 0, None, nMediaOpt = Some(n))
      Util.rmrf(src)
      if (!tmp.renameTo(src)) sys.error(s"cannot move $tmp to $src")
    }
    val ab = affine(n.toLong, seed, 7)
    s.read.parquet(s"$src/media.parquet")
      .withColumn("doc_id", remap(col("doc_id"), n.toLong, ab))
      .coalesce(Files)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/media.parquet")
    n.toLong
  }

  /** Events in the sf0.1 family: users = n/67, five uniform types over
    * 30 days, ~5% NULL user_id and ~5% NULL value, props {"k": int}.
    * ts is written as nanos (the replay sources' raw shape). */
  def events(s: SparkSession, n: Int, seed: Long): DataFrame = {
    import s.implicits._
    val nUsers = math.max(10, n / 67)
    val types = Array("signup", "purchase", "view", "click", "error")
    val t0 = 1704067200000000L
    val spanUs = 30L * 86400L * 1000000L
    s.range(n.toLong).repartition(Files).map { jid =>
      val id: Long = jid
      val r = new scala.util.Random(mix(seed, id * 41 + 5))
      val us = t0 + (r.nextDouble() * spanUs).toLong
      val user = if (r.nextInt(20) == 0) None else Some(1L + r.nextInt(nUsers).toLong)
      val value = if (r.nextInt(20) == 0) None
        else Some(math.floor(r.nextDouble() * 50000.0 + 100.0) / 100.0)
      (id, us * 1000L, user, types(r.nextInt(types.length)), value, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Write `df` as `files` parquet files under `dir`, ordered by `order`,
    * with strictly increasing modification times: a file stream with
    * maxFilesPerTrigger=1 then admits them one per trigger, in order. */
  def spool(df: DataFrame, order: Column, files: Int, dir: String): Unit = {
    val tmp = s"$dir.tmp"
    df.repartitionByRange(files, order).sortWithinPartitions(order)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val d = new java.io.File(dir)
    Util.rmrf(d); d.mkdirs()
    val base = System.currentTimeMillis() - 1000L * (parts.length + 10)
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = new java.io.File(d, f"chunk$i%05d.parquet")
      java.nio.file.Files.move(p.toPath, dst.toPath)
      dst.setLastModified(base + 1000L * i)
    }
    Util.rmrf(new java.io.File(tmp))
  }
}

object Util {
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.exists) f.length else 0L
}
