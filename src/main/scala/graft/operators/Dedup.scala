package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.D) over the `documents` table —
  * the LLM-training-pipeline surface the north star adds on top of
  * the reference's own analytics.
  *
  * Scale design: every near-dup path is candidate-generation
  * (inverted-index / LSH band join) + verification on candidates
  * only — never an O(n²) cross join. Shingles with document
  * frequency above `DfCap` are dropped IDENTICALLY in engine and
  * oracle (ubiquitous shingles create quadratic hot keys at 100 TB;
  * the cap bounds the join fan-out while keeping parity).
  */
object Dedup {

  private[graft] val DfCap = 1000

  /** Near-dup Jaccard threshold, shared by q41/q42/q65 and their
    * oracle SQL so engine and oracle can never drift apart. */
  private[graft] val JaccThr = "0.6"

  /** Containment threshold for q132 (one constant, both sides). */
  private[graft] val ContThr = "0.75"

  /** Whitespace tokens, empties removed (exact parity with DuckDB's
    * list_filter(string_split(...))). */
  val tokensExpr = "filter(split(text, ' '), x -> x != '')"

  /** Distinct word 3-gram shingles over ANY (doc_id, text) frame —
    * ONE expression tree shared by the batch operators and the
    * persisted signature index ([[graft.sources.DupIndex]]), the
    * FreqStream shared-expression discipline: index build, delta
    * ingest, and batch backfill cannot drift on what a shingle is. */
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", expr(tokensExpr))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) >= 3
           THEN array_distinct(transform(sequence(1, size(tk)-2),
                i -> concat_ws(' ', element_at(tk,i), element_at(tk,i+1), element_at(tk,i+2))))
           ELSE array() END""")).as("s"))

  /** Distinct word 3-gram shingles per document. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(Tables(s, dir, "documents"))

  /** Shingles surviving the document-frequency cap, applied as an
    * anti join against the over-cap ("hot") set. The hot set is
    * usually tiny (ubiquitous n-grams are few) and AQE then picks a
    * broadcast anti join, sparing the shingle stream a shuffle — but
    * it is NOT broadcast-hinted: a boilerplate-heavy corpus can push
    * millions of shingles over the cap, and the hint would force an
    * over-limit broadcast where a shuffle anti join is the safe plan.
    */
  /** The capped inverted index is consumed 3-4× per query (self-join
    * sides, per-doc sizes, verification) — localCheckpoint it so the
    * tokenize→explode→anti-join subtree runs once instead of per
    * consumer. The materialization is the index itself (linear,
    * partitioned): the standard cache-the-index trade at any scale.
    * MEMOIZED per (session, dir) (r6, the fitCache pattern): q42,
    * q138, and Sampling's decontamination gate each called this and
    * re-materialized their own copy of the same index. */
  private val shingleCache = new graft.Memo.DirMemo[DataFrame]

  private[graft] def cappedShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir) {
      val sh = shingled(s, dir)
      val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select("s")
      // SERIALIZED blocks: this is a corpus-TOKEN-sized checkpoint
      // (the r11 x300 lesson — deserialized string rows hold 3-5x
      // their serialized bytes on-heap, and a handful of token-sized
      // caches plus concurrent join sorts OOM'd a 64 GiB heap; SER
      // evicts cleanly and costs one deserialize per consumer scan)
      sh.join(hot, Seq("s"), "left_anti").localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Tokenize + raw (uncapped) shingle CTEs — the prefix q145's
    * index-health report consumes; [[shingleCte]] layers the df cap
    * on top. ONE text for the tokenization (clusterCte rationale). */
  private[operators] val shingleRawCte =
    """t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents),
       sh0 AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
               FROM t, UNNEST(range(1, len(tk)-1)) AS r(i))"""

  private[operators] val shingleCte =
    s"""$shingleRawCte,
       keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $DfCap),
       sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep ON sh0.s = keep.s)"""

  /** Exact dedup: md5 groups with canonical (min doc_id) member. */
  def q40(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("group_hash")
    Tables(s, dir, "documents")
      .withColumn("group_hash", md5(col("text").cast("binary")))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("group_hash"), col("canonical_id"),
        col("group_size"), (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy("doc_id")
  }

  private val q40Sql =
    """SELECT doc_id, md5(text) AS group_hash,
       min(doc_id) OVER w AS canonical_id,
       count(*) OVER w AS group_size,
       doc_id <> min(doc_id) OVER w AS is_duplicate
       FROM documents WINDOW w AS (PARTITION BY md5(text))
       ORDER BY doc_id"""

  /** Shared-shingle pair counts over the capped inverted index:
    * (d1 < d2, shared count c, set sizes n1/n2). The common core of
    * q41 (Jaccard), q132 (containment), the q65 loop input, and the
    * q144/q146 evaluation passes — one inverted-index equi-join,
    * never all-pairs. MEMOIZED per (session, dir) like labelsCache /
    * Similarity.fitCache: five operators were each re-running the
    * shingle explode + self-join; the frame is a pure function of
    * the corpus at `dir` and near-dup-sized (pairs sharing >= 1
    * capped shingle), so one localCheckpoint serves them all. */
  private val pairsCache = new graft.Memo.DirMemo[DataFrame]

  /** Broadcast ceiling for the pair-size joins, in DOCUMENTS: the
    * size frame is doc-count rows × ~16 B, so 20M docs ≈ 320 MB of
    * build-side hash relation per executor — the comfortable edge of
    * a 4-8 GiB executor's broadcast budget once the relation's hash
    * table overhead (~2×) is priced in. Above it [[pairCountsCore]]
    * falls back to a `parts`-scaled SMJ. No test corpus reaches 20M
    * docs, so the fallback is spec-driven directly (DedupSpec forces
    * `broadcastSizes = false` and proves row equality). */
  private[operators] val SzBroadcastMaxDocs = 20000000L

  private def pairCounts(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir) {
      // r11: the x300 composed build OOM'd this stage at the
      // session's 32 shuffle partitions (64 GiB heap): the self-join
      // sort and the pair partial-agg each hold candidate-volume/32
      // per task, and candidate volume grows ~linearly with the
      // corpus (df held ~constant by the cap). Scale the exchange
      // with the corpus instead of the session default — a parquet
      // row count is metadata-only, and driver-SF corpora resolve to
      // the session default (identical behavior where the oracle
      // watches).
      // raw-parquet count, NOT Tables(): the rebalance repartition
      // would turn a footer-metadata count into a real shuffle job
      val nDocs = Tables.rawCount(s, dir, "documents")
      val parts = math.max(s.sparkContext.defaultParallelism,
        math.min(1024L, nDocs / 10000L).toInt)
      pairCountsCore(cappedShingles(s, dir), parts,
          broadcastSizes = nDocs <= SzBroadcastMaxDocs)
        .localCheckpoint(false)
    }

  /** The uncached pair-count core over any capped shingle frame.
    * [[pairCounts]] supplies the corpus-scaled exchange width and the
    * size-join strategy; DedupSpec drives `broadcastSizes = false`
    * directly because the >[[SzBroadcastMaxDocs]] branch exists only
    * for 100 TB corpora and is unreachable at any test SF. */
  private[graft] def pairCountsCore(sh: DataFrame, parts: Int,
      broadcastSizes: Boolean): DataFrame = {
    // Both join legs share ONE repartition-by-shingle exchange, and
    // the pair agg keys on the join output's (d1, d2) partitioning
    // instead of re-exchanging into the session default.
    val shP = sh.repartition(parts, col("s"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // r12: the size joins were the x300 build's dominant stage
    // (181 s of q41's 275 s) — an SMJ on d1 re-exchanges the WHOLE
    // pair stream out of its corpus-scaled (d1, d2) partitioning
    // into the session's 32 shuffle partitions, with sorts that
    // spill. The size frame is doc-count rows × 16 B; broadcast it
    // (both joins become map-side on the pair agg's own exchange)
    // up to SzBroadcastMaxDocs. Past that a broadcast is
    // executor-memory hostile — fall back to the SMJ, whose exchange
    // at least scales with `parts`. Measured q41 x300: 275 -> ~100 s.
    val szJ =
      if (broadcastSizes) broadcast(sz) else sz.repartition(parts, col("doc_id"))
    // The explicit repartition ships raw candidate rows through
    // the exchange with NO map-side combine — MEASURED as the
    // right call anyway (r12 x300 A/B): a (d1,d2) pair repeats
    // within one shingle-hash partition too rarely for partial agg
    // to pay, and the sized-shuffle-partitions + partial-agg
    // variant ran 254 s vs this form's 205 s on the same corpus.
    shP.as("a").join(shP.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .repartition(parts, col("d1"), col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("c"))
      .join(szJ.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(szJ.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
  }

  /** Pair Jaccard over the capped shingle inverted index. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(s, dir)
      .select(col("d1"), col("d2"),
        (col("c") * lit(1.0) / (col("n1") + col("n2") - col("c"))).as("jacc_raw"))

  /** n-gram Jaccard near-dup pairs (inverted-index join, no O(n²)). */
  def q41(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir)
      .filter(col("jacc_raw") >= JaccThr.toDouble)
      .select(col("d1"), col("d2"), ops.r6(col("jacc_raw")).as("jaccard"))
      .orderBy("d1", "d2")

  private val q41Sql =
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                 FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
       SELECT d1, d2, ${ops.R6("c*1.0/(n1.n + n2.n - c)")} AS jaccard
       FROM pairs JOIN sz n1 ON d1=n1.doc_id JOIN sz n2 ON d2=n2.doc_id
       WHERE c*1.0/(n1.n + n2.n - c) >= $JaccThr
       ORDER BY d1, d2"""

  /** N-GRAM CONTAINMENT — the asymmetric sibling of q41's Jaccard:
    * containment(A→B) = |grams(A)∩grams(B)| / |grams(A)| catches a
    * document CONTAINED in a larger one (quoted articles, boilerplate
    * wrappers, excerpt pages) that symmetric Jaccard misses — a
    * 200-word quote inside a 5000-word page has Jaccard ≈ 0.04 but
    * containment ≈ 1.0. The standard second axis of text dedup
    * (CCNet/Dolma-style pipelines run both).
    *
    * Same scale shape as q41: the one capped inverted-index
    * equi-join produces each unordered pair's shared count once;
    * BOTH directed containments then come from that single pair row
    * (stacked with the q126 explode-structs idiom — no second join
    * pass, no re-scan), filtered at the shared ContThr. */
  def q132(s: SparkSession, dir: String): DataFrame =
    pairCounts(s, dir)
      .select(explode(array(
        struct(col("d1").as("contained_id"), col("d2").as("container_id"),
          col("c"), col("n1").as("nc")),
        struct(col("d2").as("contained_id"), col("d1").as("container_id"),
          col("c"), col("n2").as("nc")))).as("r"))
      .select(col("r.contained_id"), col("r.container_id"),
        (col("r.c") * lit(1.0) / col("r.nc")).as("cont_raw"))
      .filter(col("cont_raw") >= ContThr.toDouble)
      .select(col("contained_id"), col("container_id"),
        ops.r6(col("cont_raw")).as("containment"))
      .orderBy("contained_id", "container_id")

  private val q132Sql =
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                 FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       dirs AS (
         SELECT d1 AS contained_id, d2 AS container_id, c, n1.n AS nc
         FROM pairs JOIN sz n1 ON d1 = n1.doc_id
         UNION ALL
         SELECT d2, d1, c, n2.n
         FROM pairs JOIN sz n2 ON d2 = n2.doc_id)
       SELECT contained_id, container_id, ${ops.R6("c*1.0/nc")} AS containment
       FROM dirs WHERE c*1.0/nc >= $ContThr
       ORDER BY contained_id, container_id"""

  /** MinHash(128) + LSH banding (32 bands × 4 rows) with exact
    * Jaccard verification on the candidate pairs only. Hash-seeded
    * permutations aren't SQL-expressible in DuckDB → rows-only;
    * DedupSpec asserts recall vs q41.
    *
    * Perf shape: each shingle is string-hashed ONCE; the 128
    * permutation hashes re-hash that fixed-width long with the
    * permutation index as seed (vs 128 string concat+hash per
    * shingle), all inside one codegen'd 128-column min-agg.
    * Verification joins the inverted index restricted to CANDIDATE
    * pairs — a counting equi-join, never materializing per-doc
    * shingle sets into rows (a boilerplate-heavy 100 TB corpus has
    * docs with 10⁵+ shingles; `collect_set` rows that wide blow the
    * row-buffer budget, a count per pair never does). A candidate
    * pair sharing zero capped shingles drops out of the inner join —
    * its Jaccard is 0, below any threshold, so nothing is lost.
    *
    * The verified pair frame is MEMOIZED per (session, dir) — the
    * semPairs pattern on the MinHash axis: q42 itself and the q144
    * eval both consume it (the 128-perm signature pass is the
    * expensive subtree). PlanGuard asserts the join shape on the
    * UNCACHED core: the cache's checkpoint hides it from q42's own
    * plan (the CLAUDE.md checkpoint-hides-subtree lesson). */
  def q42(s: SparkSession, dir: String): DataFrame =
    mhPairs(s, dir).orderBy("d1", "d2")

  private val mhPairsCache = new graft.Memo.DirMemo[DataFrame]

  private def mhPairs(s: SparkSession, dir: String): DataFrame =
    mhPairsCache.getOrElseUpdate(s, dir)(mhPairsUncached(s, dir).localCheckpoint(false))

  /** Banded MinHash key rows (doc_id, bkeys array<int>, band, bkey):
    * 128-perm signature → 32 bands of 4 rows, each band's key an int
    * hash of its 4-slice. The per-doc `bkeys` array rides along (132
    * B — linear in docs) so the candidate join can dedup its
    * multi-band fan-out with the canonical-first-shared-band
    * predicate instead of a pair-`distinct()` shuffle (whose cost
    * tracks COLLISIONS — the quantity dup-heavy corpora blow up).
    * Exposed for DedupSpec's distinct-equivalence proof. */
  private[graft] def mhBandKeys(s: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingles(s, dir)
    val perms = 128
    val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("h1"))
    val aggs = (0 until perms).map(p =>
      min(xxhash64(lit(p), col("h1"))).as(s"h$p"))
    val sig = hashed.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until perms).map(p => col(s"h$p")): _*).as("sig"))
    sig.select(col("doc_id"),
        expr("transform(sequence(0, 31), b -> hash(slice(sig, b*4+1, 4)))").as("bkeys"))
      .select(col("doc_id"), col("bkeys"),
        posexplode(col("bkeys")).as(Seq("band", "bkey")))
  }

  private[graft] def mhPairsUncached(s: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingles(s, dir)
    val bands = mhBandKeys(s, dir)
    // a near-dup pair collides in many of the 32 bands; keep the row
    // only on the FIRST band both signatures share (present in the
    // joined row, so ≥ the matched band exists) — one codegen'd
    // ≤32-step loop per matched row, no distinct() shuffle of the
    // match-multiplied pair stream (r12, the q43 canonical idiom)
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.band") ===
        graft.functions.BandOps.firstEqualIdx(col("x.bkeys"), col("y.bkeys")))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(sh.select(col("doc_id").as("d1"), col("s")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
    common
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jacc_raw", col("c") * lit(1.0) / (col("n1") + col("n2") - col("c")))
      .filter(col("jacc_raw") >= JaccThr.toDouble)
      .select(col("d1"), col("d2"), ops.r6(col("jacc_raw")).as("jaccard"))
  }

  /** SimHash(64) per document (unigram token hashing, majority vote
    * per bit). Exposed for DedupSpec's exhaustive-recall check.
    *
    * r13 optimization (guide §2.4 — remove the shuffle outright):
    * simhash is a pure per-row function of the distinct-token array,
    * so the old explode → (doc_id, h) shuffle → 64-column hash
    * aggregate is ONE fused codegen'd expression per document
    * (functions.SimHashOps.simhash64) and the whole pass is map-only
    * — at 100 TB the retired exchange was corpus-TOKEN-sized. The
    * `size > 0` guard preserves the explode form's behavior of
    * dropping zero-token docs (explode of an empty array emitted no
    * row, so they never reached the groupBy); bit-identity of the
    * hash/vote is spec'd (DedupSpec fused-vs-reference). */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr(s"array_distinct($tokensExpr)").as("tks"))
      .where(size(col("tks")) > 0)
      // coalesce(…, 0L) makes the column NON-NULLABLE so the banding
      // join's constraint-propagated isnotnull(simhash) folds to true
      // instead of re-evaluating the full fused hash in a Filter next
      // to the Project (Catalyst does no CSE across Filter/Project —
      // the r13 verdict's double-evaluation finding; at 100 TB that
      // doubled the map-side hash cost). The fallback arm is dead:
      // the size(tks) > 0 guard already keeps simhash64's input
      // non-null, so the value is bit-identical (DedupSpec).
      .select(col("doc_id"),
        coalesce(graft.functions.SimHashOps.simhash64(col("tks")), lit(0L)).as("simhash"))

  /** SimHash near-dup pairs, hamming ≤ 8 — GUARANTEED recall via
    * block-combination banding (Manku/Jain/Das Sarma, WWW'07 §3): the
    * 64 bits split into 10 blocks (4×7 + 6×6 bits); ≤ 8 differing
    * bits dirty at most 8 blocks, so ≥ 2 blocks are clean and the
    * pair collides on that block-pair's key. Keys are all C(10,2)=45
    * ordered block pairs (~13-14 bits each) — vs the old 4×16-bit
    * scheme this trades 45 bucket tables for a recall PROOF (4 bands
    * of 16 only guarantee hamming ≤ 3) and the spec checks it
    * exhaustively. The self-join is an equi-join on (combo, key);
    * skewed buckets (simhash bits are not uniform — common tokens
    * correlate them) are AQE skew-split. */
  def q43(s: SparkSession, dir: String): DataFrame =
    hamming64Pairs(simhashes(s, dir), 8)

  /** [[q43]] with a dedup-domain SCOPE — the named production path
    * past the banding join's ≥10⁶-docs-per-domain emission floor:
    * `scope` is any Column over the hash frame's (doc_id, simhash),
    * e.g. `floor(col("doc_id") / lit(1000000L))` for ingestion-window
    * sharding. Pairs are emitted within each scope only (the
    * [[hamming64Pairs]] cross-scope contract) and carry their scope.
    * Per-SOURCE scoping joins the source attribute onto the hash
    * frame and calls [[hamming64Pairs]] directly. */
  def q43Scoped(s: SparkSession, dir: String, scope: Column): DataFrame =
    hamming64Pairs(simhashes(s, dir).withColumn("scope", scope), 8)

  /** The 45-combo band keying shared by [[hamming64Pairs]] (self-join)
    * and [[hammingProbe]] (one-sided admission): each hash row
    * explodes into C(10,2)=45 (cb, bkey) block-pair keys.
    *
    * The repartition is a PLANNING barrier, not a data move for its
    * own sake: without it CollapseProject inlines the 64-term
    * simhash expression into every one of the 45 key structs (×2
    * block refs ≈ 5.8k CASE terms) and optimizer+AQE replans take
    * minutes. Behind the barrier simhash is a plain attribute; the
    * shuffle itself is linear in docs × 16 bytes. EXPLICIT count
    * (r11): a column-only repartition is AQE-coalescible, and the
    * hash frame is tiny in BYTES — AQE folded it to ONE partition,
    * so the 45× combo explode and the banding exchange's shuffle
    * write ran single-task (~5 s of the media-x30 profile at 100k
    * hashes, growing with the corpus). An explicit count pins the
    * barrier at defaultParallelism and the explode parallelizes. */
  private def comboKeyed(hashes: DataFrame, scoped: Boolean): DataFrame = {
    val sims = hashes.repartition(
      hashes.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    import graft.functions.SimHashOps.{BlockOffsets, BlockSizes}
    def block(i: Int): Column =
      shiftright(col("simhash"), BlockOffsets(i)).bitwiseAND(lit((1L << BlockSizes(i)) - 1))
    val combos = for { i <- 0 until 10; j <- i + 1 until 10 } yield (i, j)
    val scopeCols = if (scoped) Seq(col("scope")) else Seq.empty
    sims.select(Seq(col("doc_id"), col("simhash")) ++ scopeCols :+
        explode(array(combos.zipWithIndex.map { case ((i, j), c) =>
          struct(lit(c).as("cb"), (block(i) * lit(128L) + block(j)).as("bkey"))
        }: _*)).as("k"): _*)
      .select(Seq(col("doc_id"), col("simhash")) ++ scopeCols ++
        Seq(col("k.cb"), col("k.bkey")): _*)
  }

  /** ONE-SIDED hamming admission probe: each row of `newHashes`
    * (doc_id, simhash) that has at least one `resident` partner
    * within `maxHam` — the [[graft.sources.DupIndex.probe]] shape on
    * the 64-bit-hash axis, used by the incremental build's
    * image-family admission (a new image within hamming ≤ 8 of an
    * already-admitted one belongs to a family whose canonical already
    * shipped). A left-SEMI join over the shared 45-combo keys plus
    * the hamming bound: nothing match-multiplies past the semi-join
    * short-circuit, recall is the same pigeonhole guarantee, and no
    * canonical-combo dedup is needed because only EXISTENCE is asked.
    * Output: the matching new doc_ids (≤ |newHashes| rows). */
  private[graft] def hammingProbe(newHashes: DataFrame, resident: DataFrame,
      maxHam: Int): DataFrame = {
    require(maxHam <= 8, s"10-block banding only guarantees hamming<=8, got $maxHam")
    val nk = comboKeyed(newHashes, scoped = false)
    val rk = comboKeyed(resident, scoped = false)
    nk.as("x").join(rk.as("y"),
        col("x.cb") === col("y.cb") && col("x.bkey") === col("y.bkey") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHam,
        "left_semi")
      .select("doc_id").distinct()
  }

  /** The q43 block-combination banding join over ANY 64-bit hash
    * frame (doc_id, simhash) — guaranteed recall of every pair at
    * hamming ≤ `maxHam` ≤ 8 (pigeonhole over the 10-block layout).
    * Shared by q43 (token simhash) and [[Multimodal.q155]]
    * (perceptual image hash): the banding geometry only sees 64 bits
    * and does not care what they summarize.
    *
    * DEDUP-DOMAIN SCOPING (r13): when the frame carries a third
    * column `scope`, the band key becomes (scope, cb, bkey) and pairs
    * are emitted WITHIN each scope only — the production cure for the
    * fixed-key layout's random-collision emission floor (45·n²/2^13.5
    * candidate evaluations; r12 measured it pure-n² at ≥10⁶ items and
    * REFUTED wider keys by A/B — they multiply the shuffled keyed
    * rows 4-11× while floor emissions are cheap codegen'd filters).
    * Sharding the dedup domain per source / ingestion window / crawl
    * snapshot turns the floor into Σᵢ 45·nᵢ²/2^13.5 — linear in scope
    * count at bounded per-scope size (measured x300: SURVEY §15), and
    * the scope lands IN the shuffle key, so a hot scope's buckets
    * still spread. CROSS-SCOPE CONTRACT: a pair spanning two scopes
    * is deliberately NOT emitted — that is what domain sharding
    * means; the hamming-recall guarantee holds within each scope.
    * Deployments owning cross-scope duplication close it on a
    * different axis (exact md5 / embedding dedup are already global)
    * or rotate scope boundaries between runs. Output carries each
    * pair's scope. */
  private[graft] def hamming64Pairs(hashes: DataFrame, maxHam: Int): DataFrame =
    hamming64PairsCore(hashes, maxHam)
      // r13: checkpoint BEFORE the presentation sort — the trailing
      // orderBy's range-partitioner sample was executing the whole
      // banding join twice per action (measured: two ~equal 32-task
      // join stages per run at sf0.1). The pair frame is near-dup-
      // sized (tiny) while the subtree is the expensive core — the
      // q79/q84 tiny-checkpoint rule; consumers that iterate over the
      // pairs (q171's label propagation) also stop re-executing the
      // join per consumer. The checkpoint hides the join from
      // downstream plans — PlanGuard asserts the join shape on
      // [[hamming64PairsCore]] directly (the q42/q44 uncached-core
      // pattern).
      .localCheckpoint(false)
      .orderBy("d1", "d2")

  /** The uncheckpointed banding-join core — exposed (private[graft])
    * so PlanGuardSpec can assert the join shape the public wrapper's
    * checkpoint hides. */
  private[graft] def hamming64PairsCore(hashes: DataFrame, maxHam: Int): DataFrame = {
    require(maxHam <= 8, s"10-block banding only guarantees hamming<=8, got $maxHam")
    val scoped = hashes.columns.contains("scope")
    import graft.functions.SimHashOps.canonicalCombo
    val keyed = comboKeyed(hashes, scoped)
    // A near-identical pair matches on MANY combos (up to C(9,2)+ at
    // hamming 0) — deduping that fan-out through distinct() shuffles
    // the whole multiplied pair stream. Both simhashes are present in
    // the joined row, so dedup is instead one codegen'd predicate:
    // keep a row only on the pair's CANONICAL combo — the one over
    // its two lowest-indexed clean (xor==0) blocks (a joined row
    // matched blocks (i,j), so ≥2 clean blocks always exist). Every
    // surviving pair is emitted exactly once and the distinct()
    // shuffle disappears. The check is the fused Expression
    // [[graft.functions.CanonicalCombo]] — built from nested Columns
    // its intermediates re-expand per reference inside the join
    // condition (no CSE there) and cost µs per matched row.
    val xorCol = col("x.simhash").bitwiseXOR(col("y.simhash"))
    // shuffle_merge, NOT broadcast: the keyed table is tiny in bytes
    // (broadcast-eligible) but match-multiplied 100-1000× by the
    // dup-cluster buckets — under a broadcast join the whole multiplied
    // probe runs in however few partitions the upstream agg coalesced
    // to (observed: ONE task, 10+ min). Shuffling by (cb, bkey)
    // spreads a mega-cluster's 45 combo keys across the shuffle
    // partitions, so the match explosion is what gets parallelized.
    val scopeEq =
      if (scoped) Seq(col("x.scope") === col("y.scope")) else Seq.empty
    val outScope = if (scoped) Seq(col("x.scope").as("scope")) else Seq.empty
    // r13: pin the JOIN's parallelism too (the r11 barrier-pin lesson,
    // one exchange further down). The banding shuffle is small in
    // BYTES (45 keyed rows × ~30 B per item) but the join stage it
    // feeds is the match-multiplied compute core — AQE's byte-driven
    // coalescing folded it to totalBytes/1MB partitions (measured: 6
    // tasks on 32 cores at sf0.1, 2×~0.9 s with the trailing orderBy's
    // range-sample executing the join subtree twice). An explicit-count
    // repartition on the band key IS the join's required partitioning
    // (same keys, same count on both sides — no extra exchange vs the
    // join's own shuffle) and AQE leaves explicit counts alone, so the
    // match explosion parallelizes across cores. Cores, not bytes, are
    // the resource this stage needs — defaultParallelism, not a local
    // constant. The SMJ itself stays (shuffle_merge rationale above).
    val parts = hashes.sparkSession.sparkContext.defaultParallelism
    val keyCols = (if (scoped) Seq(col("scope")) else Seq.empty) ++
      Seq(col("cb"), col("bkey"))
    val pinned = keyed.repartition(parts, keyCols: _*)
    pinned.as("x").hint("shuffle_merge").join(pinned.as("y").hint("shuffle_merge"),
        (scopeEq :+ (col("x.cb") === col("y.cb")) :+
          (col("x.bkey") === col("y.bkey")) :+
          (col("x.doc_id") < col("y.doc_id"))).reduce(_ && _))
      .filter(col("x.cb") === canonicalCombo(xorCol))
      .select(Seq(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(xorCol).as("hamming")) ++ outScope: _*)
      .filter(col("hamming") <= maxHam)
  }

  /** q44 cosine threshold — ONE constant shared with the oracle SQL
    * and the streaming twin ([[graft.streaming.EmbedDedupStream]]). */
  private[graft] val CosThr = "0.45"

  /** q44 LSH base geometry: NdBands bands × NdBits hyperplane sign
    * bits. P(band match) = p^NdBits with p = 1 - θ/π per bit; at the
    * 0.45 threshold (θ ≈ 63°, p ≈ 0.649) a pair misses all 96 6-bit
    * bands with prob (1-0.649⁶)⁹⁶ ≈ 7e-4 — and planes are a FIXED
    * seed, so recall is checked once per test SF (exhaustive spec at
    * sf0.001, oracle hash at sf0.01), not re-rolled per run. */
  private[graft] val NdBands = 96
  private[graft] val NdBits = 6

  /** ADAPTIVE geometry for corpora past the base operating range.
    * Fixed 6-bit bands have a random-collision candidate floor of
    * bands·n²/2⁶ — measured QUADRATIC on a 10× stress corpus
    * (1.4 s → 31 s for 10× vectors at the same plan). The standard
    * LSH cure: grow BITS with log₂(n/B) so per-band bucket size stays
    * ≈ B, and grow BANDS as ln(10³)/p₀.₈^bits so a pair at the REAL
    * near-dup operating threshold (cosine 0.8, per-bit agreement
    * p₀.₈ ≈ 0.795) still misses every band with prob ≤ e^-6.9 ≈ 10⁻³.
    * Candidate volume becomes bands·n·B/2 ∝ n^(1+ρ) with
    * ρ = log(1/p₀.₈)/log 2 ≈ 0.33 — the classic sub-quadratic LSH
    * exponent — instead of n². Pairs at the adversarially-low 0.45
    * gate degrade gracefully (they are ~63° apart, nearly random to a
    * hyperplane; no sub-quadratic scheme can keep them at full recall
    * — that gap is information-theoretic, not an implementation gap).
    * At n ≤ 2^(6+5)·B the chosen geometry IS the base one, so every
    * driver SF (≤ 2000 vectors) is bit-identical to the fixed-seed
    * plan the oracle hash-checks. */
  private val NdBucket = 32.0
  private[graft] def ndGeometry(n: Long): (Int, Int) = {
    val bits = math.max(NdBits,
      math.ceil(math.log(math.max(1.0, n / NdBucket)) / math.log(2.0)).toInt)
    if (bits <= NdBits) (NdBits, NdBands)
    else {
      val p08 = 1.0 - math.acos(0.8) / math.Pi
      (bits, math.max(NdBands, math.ceil(6.9 / math.pow(p08, bits)).toInt))
    }
  }

  /** The fixed plane matrix and per-band bucket keys — shared
    * verbatim by batch q44 and the online twin, so the two generate
    * IDENTICAL candidate sets. */
  private[graft] lazy val ndPlanes: Array[Array[Double]] = ndPlanesFor(NdBits, NdBands)

  /** Seeded plane matrix for a geometry; the base (6, 96) geometry
    * reproduces the historical Random(1337) draw order exactly. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private[graft] def ndPlanesFor(bits: Int, bands: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, bands), { case (bt, bd) =>
      val rnd = new scala.util.Random(if (bt == NdBits && bd == NdBands) 1337 else 1337 + 1000 * bt)
      Array.fill(bd * bt)(Array.fill(64)(rnd.nextGaussian()))
    })

  private[graft] def ndBandKeys(planes: Array[Array[Double]], arr: Array[Float]): Array[Long] =
    ndBandKeysG(planes, arr, NdBits, NdBands)

  private[graft] def ndBandKeysG(planes: Array[Array[Double]], arr: Array[Float],
      bits: Int, bands: Int): Array[Long] =
    Array.tabulate(bands) { band =>
      var key = 0L
      var b = 0
      while (b < bits) {
        val p = planes(band * bits + b)
        val m = math.min(arr.length, p.length)
        var d = 0.0
        var i = 0
        while (i < m) { d += arr(i) * p(i); i += 1 }
        key = (key << 1) | (if (d >= 0) 1L else 0L)
        b += 1
      }
      key
    }

  /** Embedding cosine near-dup pairs: hyperplane-LSH band join for
    * candidate generation + exact codegen'd-DotProduct verification.
    * The previous exact form — `a.join(b, id1 < id2)` — was a
    * BroadcastNestedLoopJoin: O(n²) pairs evaluated on ONE broadcast
    * copy, which never finishes at 100 TB. Here candidates come from
    * an equi self-join on (band, bucket) — shuffle-partitioned,
    * skew-split by AQE, and at real near-dup thresholds (≥ 0.8) the
    * same geometry needs far fewer bands, so candidate volume
    * collapses; 0.45 is adversarially low and still recalls fully at
    * the test SFs. Signatures are computed in one mapPartitions pass
    * over the closed-over plane matrix (96×6 planes × 64 dims as
    * column literals would defeat codegen; the scan stays
    * embarrassingly parallel).
    *
    * The verified pair frame is MEMOIZED per (session, dir) — the
    * pairsCache pattern on the embedding axis: q44 itself, q101
    * (agreement), q110's drop set, and q163's truth side all consume
    * it, and the band join + exact verify is a pure function of the
    * corpus. Near-dup-sized, one checkpoint serves all. PlanGuard
    * asserts the join shape on the UNCACHED core: the cache's
    * checkpoint hides it from q44's own plan. */
  def q44(s: SparkSession, dir: String): DataFrame =
    semPairs(s, dir).orderBy("id1", "id2")

  private val semPairsCache = new graft.Memo.DirMemo[DataFrame]

  private[graft] def semPairs(s: SparkSession, dir: String): DataFrame =
    semPairsCache.getOrElseUpdate(s, dir)(semPairsUncached(s, dir).localCheckpoint(false))

  /** q44's per-band key rows (vec_id, band, bkey, sig) + the chosen
    * (bits, bands) geometry. Each row carries the PACKED signature
    * (bands × bits bits, ~72-200 B — linear in vectors) so the
    * candidate join can dedup its multi-band fan-out with the
    * canonical-first-shared-band predicate instead of a
    * pair-distinct() shuffle whose cost tracks collisions (r12, the
    * q43 canonical idiom). Exposed for DedupSpec's
    * distinct-equivalence proof. */
  private[graft] def ndKeyRows(s: SparkSession, dir: String): (DataFrame, Int, Int) = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    // one count sizes the geometry (see ndGeometry): at driver SFs it
    // resolves to the fixed base plan; past 2^11 vectors bits/bands
    // scale so candidates stay ~n^1.33, not n²
    val (bits, bands) = ndGeometry(e.count())
    val planes = ndPlanesFor(bits, bands) // local copy: the closure must not drag the object
    val keys = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          val arr = v.toArray
          val ks = ndBandKeysG(planes, arr, bits, bands)
          val sig = graft.functions.BandOps.packKeys(ks, bits)
          Iterator.tabulate(bands)(band => (id, band, ks(band), sig))
        }
      }.toDF("vec_id", "band", "bkey", "sig")
    (keys, bits, bands)
  }

  private[graft] def semPairsUncached(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.{dotp, l2norm}
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("nrm", l2norm(col("embedding")))
    val (keysRaw, bits, bands) = ndKeyRows(s, dir)
    val keys = keysRaw
      // barrier: both sides of the self-join consume this frame, and
      // exchange reuse deduping the two scans is an optimizer
      // heuristic, not a guarantee (q65 lesson) — without it the
      // mapPartitions signature pass can run twice.
      .localCheckpoint(false)
    val cands = keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.vec_id") < col("y.vec_id"))
      .filter(col("x.band") === graft.functions.BandOps.firstSharedBand(
        col("x.sig"), col("y.sig"), bits, bands))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
    cands
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nrm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nrm").as("n2")), "id2")
      .withColumn("cos", dotp(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= CosThr.toDouble)
      .select(col("id1"), col("id2"), ops.r4(col("cos")).as("cosine"))
  }

  /** LSH GEOMETRY DIAGNOSTICS — the capacity-planning report behind
    * q44, born from the x30 stress finding (SURVEY §4.1): the
    * adaptive geometry's n^(1+ρ) candidate bound assumes uniform
    * buckets, and CLUSTERED embeddings break that assumption — a
    * cluster's vectors agree on most hyperplanes, so per-band
    * Σ|bucket|² (the exact candidate-pair count the band join will
    * generate) can sit far above the uniform floor n²/2^(bits+1).
    * This operator MEASURES it per band before a dedup run commits:
    * bucket count, max bucket, exact candidate pairs, the uniform
    * floor, and the skew multiple (×1000 integer). A skew multiple
    * in the tens says "clustered corpus — run q45, or expect
    * output-bound cost" without burning the full join to learn it.
    *
    * Scale shape: the SAME one-pass key generation as q44 (shared
    * planes/keys code, so the diagnosis describes exactly the
    * geometry q44 will use) into a (band, bkey) count agg — the
    * report costs one signature pass + one bounded agg, never the
    * candidate join it predicts. rows-only: hash-dependent. */
  def q151(s: SparkSession, dir: String): DataFrame =
    ndDiagnosis(s, dir)

  /** q151's per-band skew report, reusable pre-flight (q154 routes
    * on it). MEMOIZED per corpus snapshot (r8): q151 and q154 run
    * the same signature pass, and a full 164-query pass was paying
    * it twice — BENCH_r07 flagged q154 at 4.5× its warm floor purely
    * on the cold rebuild. The frame is #bands rows (well inside the
    * cache-admission policy), so one checkpoint serves both. */
  private val diagCache = new graft.Memo.DirMemo[DataFrame]

  private[graft] def ndDiagnosis(s: SparkSession, dir: String): DataFrame =
    diagCache.getOrElseUpdate(s, dir)(ndDiagnosisUncached(s, dir).localCheckpoint(false))

  private[graft] def ndDiagnosisUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val n = e.count()
    val (bits, bands) = ndGeometry(n)
    val planes = ndPlanesFor(bits, bands)
    val keys = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          val arr = v.toArray
          val ks = ndBandKeysG(planes, arr, bits, bands)
          Iterator.tabulate(bands)(band => (id, band, ks(band)))
        }
      }.toDF("vec_id", "band", "bkey")
    ndDiagnosisOf(keys, n, bits)
  }

  /** The diagnosis tail over any (band, bkey) key frame — shared by
    * [[ndDiagnosis]] (adaptive batch geometry) and the streaming
    * trigger guard ([[graft.streaming.EmbedDedupStream]]'s fixed
    * geometry), so the statistic that trips the stream's degrade
    * path is the SAME one q151 reports and q154 routes on. */
  private[graft] def ndDiagnosisOf(keys: DataFrame, n: Long, bits: Int): DataFrame = {
    // exact per-band candidate volume: Σ |bucket|·(|bucket|−1)/2
    val uniform = n.toDouble * n.toDouble / math.pow(2.0, bits + 1)
    keys.groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max("sz").as("max_bucket"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .select(col("band"), lit(bits).as("bits"), col("n_buckets"), col("max_bucket"),
        col("cand_pairs"),
        lit(math.floor(uniform).toLong).as("uniform_pairs"),
        floor(col("cand_pairs").cast("double") / lit(math.max(uniform, 1.0)) * 1000.0)
          .cast("long").as("skew_x1000"))
      .orderBy("band")
  }

  /** Oracle stays the EXACT all-pairs definition (the operator must
    * recall it fully), with the cosine spelled out as
    * dot/(sqrt(dot)·sqrt(dot)) so DuckDB evaluates the engine's
    * arithmetic rather than list_cosine_similarity's internal
    * (potentially fused) form — an ulp of drift at the threshold
    * boundary would flip rows. */
  private val q44Sql = {
    val cos = """list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
    s"""WITH p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, $cos AS cos
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       SELECT id1, id2, ${ops.R4("cos")} AS cosine FROM p
       WHERE cos >= $CosThr ORDER BY id1, id2"""
  }

  /** Near-dup CLUSTERS: connected components over the q41 pair graph.
    * HashMin label propagation ACCELERATED with lagged pointer
    * jumping: each round every doc takes
    *   least(prev(v), min over neighbors u of prev(u))   (HashMin)
    * and then shortcuts through the previous generation,
    *   least(hashed(v), prev(hashed(v)))                  (jump),
    * so label information travels ~2 hops per round instead of 1 —
    * O(log diameter) rounds on chain-shaped components instead of
    * O(diameter). r5 measured the loop as the cost FLOOR under the
    * five most expensive composed queries (q134/q136/q68/q75/q144),
    * with per-round driver scheduling, not data volume, dominating —
    * fewer rounds is the lever.
    *
    * Correctness is unchanged from plain HashMin: every assigned
    * label is the id of a node in the same component (prev(w) is, by
    * induction, a same-component id <= w), labels are monotone
    * non-increasing and bounded by the component minimum, and the
    * fixpoint condition (nothing changed) implies the pure-HashMin
    * fixpoint condition, which forces label == component min. The
    * jump joins through the PREVIOUS generation's frame, which is
    * already localCheckpointed — it appears twice in the round's plan
    * (as base and as lookup table) without re-executing anything, and
    * the round still costs exactly 2 driver actions (checkpoint +
    * convergence count). DedupSpec pins label equality with a
    * driver-side union-find recompute of the same pair list.
    *
    * Only edge-connected docs ride through the iteration — at scale
    * isolated docs vastly outnumber near-dup nodes, and they get
    * their identity label in one final left join. */
  def q65(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val labels = clusterLabels(s, dir)
    docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Converged component labels for EDGE-CONNECTED docs only
    * (doc_id, cluster_id), memoized per (session, dir) like
    * Similarity.fitCache: r5 measured the q65 loop as the cost floor
    * under its five composed consumers (q134/q136/q68/q75/q144 each
    * re-ran pair generation + the iteration). The cached frame is the
    * final round's localCheckpoint — reusing it is safe because the
    * labels are a pure function of the corpus at `dir`. Specs that
    * cluster custom frames must go through [[computeLabels]]
    * (uncached). */
  private val labelsCache = new graft.Memo.DirMemo[DataFrame]

  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    labelsCache.getOrElseUpdate(s, dir)(computeLabels(s, dir))

  private[graft] def computeLabels(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the pair list BEFORE symmetrizing: the union
    // references it twice, and without the barrier the whole shingle
    // subtree executes twice.
    val pairs = jaccardPairs(s, dir).filter(col("jacc_raw") >= JaccThr.toDouble)
      .select(col("d1"), col("d2"))
      .localCheckpoint(false)
    propagateLabels(pairs, s)
  }

  /** HashMin + lagged-pointer-jump label propagation over an
    * ALREADY-CHECKPOINTED (d1, d2) pair frame — the q65 loop,
    * factored so any near-dup pair generator (text Jaccard, phash
    * banding) can form components through the one tuned
    * implementation. Returns (doc_id, cluster_id) for every doc
    * that has at least one edge; singletons are the caller's
    * left-join+coalesce (q167/q171 idiom). */
  private[graft] def propagateLabels(pairs: DataFrame, s: SparkSession): DataFrame = {
    // Size the iteration frames to the graph, not to the session
    // default: the edge set is usually orders of magnitude smaller
    // than the corpus, and dragging defaultParallelism near-empty
    // partitions through every round turns the loop
    // scheduling-bound. count() on the checkpointed frame is free.
    val parts = math.max(1L, math.min(pairs.count() / 500000L + 1L,
      s.sparkContext.defaultParallelism.toLong)).toInt
    val sym = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .repartition(parts)
      .localCheckpoint(false)
    // `ckpt` is the checkpointed frame itself (unpersist must target
    // it, not a derived projection); `labels` is its working view.
    var ckpt = sym.select(col("d1").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .repartition(parts)
      .localCheckpoint(false)
    var labels = ckpt
    var changed = 1L
    var rounds = 0
    val maxRounds = 64
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym.join(labels, sym("d2") === labels("doc_id"))
        .groupBy(sym("d1").as("nd")).agg(min("cluster_id").as("nbr_min"))
      // carry the previous label as a column: convergence is one scan
      // of the (checkpointed) frame, not a second full join per round
      val hashed = labels
        .join(nbrMin, labels("doc_id") === nbrMin("nd"), "left")
        .select(col("doc_id"), col("cluster_id").as("_prev"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
      // pointer jump: shortcut the fresh label through the PREVIOUS
      // generation (checkpointed — no shared-lineage re-execution).
      // prev(hashed(v)) is a same-component id <= hashed(v), so this
      // only accelerates; the fixpoint test below is unaffected.
      val lut = labels.select(col("doc_id").as("j_id"), col("cluster_id").as("j_lab"))
      val updated = hashed
        .join(lut, hashed("cluster_id") === lut("j_id"), "left")
        .select(hashed("doc_id"), col("_prev"),
          least(hashed("cluster_id"), coalesce(col("j_lab"), hashed("cluster_id"))).as("cluster_id"))
        .localCheckpoint(false)
      changed = updated.filter(col("cluster_id") =!= col("_prev")).count()
      ckpt.unpersist() // superseded round's checkpoint blocks
      ckpt = updated
      labels = updated.drop("_prev")
      rounds += 1
    }
    require(changed == 0,
      s"q65 label propagation did not converge in $maxRounds rounds " +
        "(component diameter exceeds the cap); raise maxRounds")
    labels
  }

  /** The q65 connected-components chain as a reusable CTE fragment
    * (expects `sh` from [[shingleCte]] in scope; final CTE `cl` =
    * (doc_id, cluster_id)). Shared by q65Sql, Sampling's gate, and
    * q134 so the cluster definition exists in ONE SQL text. */
  private[operators] val clusterCte =
    s"""sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs0 AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                  FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       p AS (SELECT d1, d2 FROM pairs0 JOIN sz n1 ON d1=n1.doc_id JOIN sz n2 ON d2=n2.doc_id
             WHERE c*1.0/(n1.n + n2.n - c) >= $JaccThr),
       sym AS (SELECT d1 a, d2 b FROM p UNION ALL SELECT d2, d1 FROM p),
       reach(a, b) AS (
         SELECT a, b FROM sym
         UNION
         SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
       cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
              FROM documents d LEFT JOIN reach r ON d.doc_id = r.a GROUP BY d.doc_id)"""

  private val q65Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte
       SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"""

  /** DEDUP SURVIVOR-BIAS AUDIT — the governance check a dedup stage
    * needs before its output is trusted: near-dup removal is NOT
    * quality-neutral (boilerplate and templated pages are both
    * low-quality and highly duplicated), so the kept corpus can
    * drift in quality/length relative to what was dropped. Compares
    * the kept (cluster canonical, q65's keep rule) vs dropped
    * populations on count, token volume, and mean quality.
    *
    * Numerics: mean quality re-integerizes the r4 score (q133's
    * floor(q·10⁴+0.5) long), mean length is one double divide of an
    * exact sum — nothing accumulates as an order-dependent double.
    * Scale shape: q65's component labels (edge-sized iteration) +
    * q60's map-only scoring joined on doc_id, collapsed map-side to
    * a 2-row report. */
  def q134(s: SparkSession, dir: String): DataFrame = {
    val status = q65(s, dir).select(col("doc_id"),
      when(col("doc_id") === col("cluster_id"), "kept").otherwise("dropped").as("status"))
    TextOps.q60(s, dir).select("doc_id", "n_tokens", "quality_score")
      .join(status, "doc_id")
      .withColumn("q4", expr("CAST(floor(quality_score*10000.0 + 0.5) AS BIGINT)"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        ops.r2(sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        ops.r4(sum("q4") / (lit(10000.0) * count(lit(1)))).as("avg_q4"))
      .orderBy("status")
  }

  // lazy: evaluating this calls into TextOps, whose own initializer
  // reads Dedup.tokensExpr — eager evaluation here would deadlock the
  // two object <clinit>s when TextOps loads first (spec suites do)
  private lazy val q134Sql = {
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       qual AS (SELECT doc_id, len(tk) AS n_tokens,
                ${TextOps.QualityScoreSql}
                  AS quality_score
                FROM t),
       st AS (SELECT q.doc_id,
                CASE WHEN c.cluster_id = q.doc_id THEN 'kept' ELSE 'dropped' END AS status,
                q.n_tokens,
                CAST(floor(q.quality_score*10000.0 + 0.5) AS BIGINT) AS q4
              FROM qual q JOIN cl c ON q.doc_id = c.doc_id)
       SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              ${ops.R2("CAST(sum(n_tokens) AS DOUBLE)/count(*)")} AS avg_tokens,
              ${ops.R4("sum(q4)/(10000.0*count(*))")} AS avg_q4
       FROM st GROUP BY 1 ORDER BY 1"""
  }

  /** q138's batch split: doc_id % NewDen == NewMod is "today's
    * crawl increment" (deterministic, SF-stable, both sides). */
  private[graft] val NewDen = 10
  private[graft] val NewMod = 7

  /** INCREMENTAL DEDUP — the production ingest shape: a NEW batch of
    * documents arrives against an EXISTING corpus, and each new doc
    * must be admitted or rejected WITHOUT recomputing old×old pairs
    * (the daily-crawl contract; q41 is the full-corpus backfill).
    * Verdicts per new doc: `dup_of_corpus` (an existing partner at
    * Jaccard ≥ thr — reject), `dup_in_batch` (a LOWER-id new partner
    * — keep first of the group, q45's deterministic keep rule), or
    * `novel`; the reported partner is the minimum qualifying id with
    * its exact Jaccard.
    *
    * Scale shape: only the NEW side's shingles probe the inverted
    * index — the candidate join is |new shingles| × bounded fan-out
    * (DfCap), not corpus²; per-doc set sizes come from the one shared
    * index. Partner selection is min/min_by with FILTER (one agg, no
    * self-rejoin); novel docs enter by left join from the new-doc
    * list. In production the old index is the persisted artifact
    * (Sources-style parquet) — here both sides derive from one
    * checkpointed index scan. */
  def q138(s: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingles(s, dir)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val isNew = (c: Column) => pmod(c, lit(NewDen)) === NewMod
    val pairs = sh.filter(isNew(col("doc_id"))).as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("c"))
      .join(sz.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sz.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jr", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
      .filter(col("jr") >= JaccThr.toDouble)
      .withColumn("bnew", isNew(col("b")))
    val verdicts = pairs.groupBy("a").agg(
      expr("min(b) FILTER (WHERE NOT bnew)").as("old_b"),
      expr("min_by(jr, b) FILTER (WHERE NOT bnew)").as("old_j"),
      expr("min(b) FILTER (WHERE bnew AND b < a)").as("new_b"),
      expr("min_by(jr, b) FILTER (WHERE bnew AND b < a)").as("new_j"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(isNew(col("doc_id")))
      .join(verdicts, col("doc_id") === col("a"), "left")
      .select(col("doc_id"),
        when(col("old_b").isNotNull, "dup_of_corpus")
          .when(col("new_b").isNotNull, "dup_in_batch")
          .otherwise("novel").as("verdict"),
        coalesce(col("old_b"), col("new_b")).as("partner_id"),
        ops.r6(coalesce(col("old_j"), col("new_j"))).as("jaccard"))
      .orderBy("doc_id")
  }

  private val q138Sql =
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pr AS (SELECT a.doc_id a, b.doc_id b, count(*) c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
              WHERE a.doc_id % $NewDen = $NewMod
              GROUP BY 1, 2),
       j AS (SELECT a, b, c*1.0/(na.n + nb.n - c) AS jr, b % $NewDen = $NewMod AS bnew
             FROM pr JOIN sz na ON a = na.doc_id JOIN sz nb ON b = nb.doc_id
             WHERE c*1.0/(na.n + nb.n - c) >= $JaccThr),
       v AS (SELECT a,
               min(b) FILTER (WHERE NOT bnew) AS old_b,
               arg_min(jr, b) FILTER (WHERE NOT bnew) AS old_j,
               min(b) FILTER (WHERE bnew AND b < a) AS new_b,
               arg_min(jr, b) FILTER (WHERE bnew AND b < a) AS new_j
             FROM j GROUP BY 1)
       SELECT doc_id,
              CASE WHEN old_b IS NOT NULL THEN 'dup_of_corpus'
                   WHEN new_b IS NOT NULL THEN 'dup_in_batch'
                   ELSE 'novel' END AS verdict,
              coalesce(old_b, new_b) AS partner_id,
              ${ops.R6("coalesce(old_j, new_j)")} AS jaccard
       FROM documents LEFT JOIN v ON doc_id = v.a
       WHERE doc_id % $NewDen = $NewMod
       ORDER BY doc_id"""

  /** DUP-CLUSTER SIZE HISTOGRAM — the shape diagnostic for a dedup
    * run: how many near-dup components exist at each size (size 1 =
    * unique docs), with doc totals and the ppm of the corpus held in
    * each size class. A healthy crawl is singleton-dominated with a
    * thin tail; a boilerplate explosion shows up as mass in large
    * sizes — this is the report that catches it before q65's keep
    * rule silently drops a third of the corpus.
    *
    * Scale shape: q65's labels (edge-sized iteration) → cluster-size
    * agg (map-side combined on cluster_id) → histogram agg over the
    * CLUSTER frame (≤ corpus rows, output ≤ max-size rows); the ppm
    * share needs the corpus total — a 1-row broadcast, left-join-true
    * (q107 discipline). All integer arithmetic. */
  def q136(s: SparkSession, dir: String): DataFrame = {
    val sizes = q65(s, dir).groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val tot = sizes.agg(sum("cluster_size").as("n_total"))
    sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .join(broadcast(tot), lit(true), "left")
      .withColumn("doc_ppm", expr("(n_docs * 1000000) div n_total"))
      .select("cluster_size", "n_clusters", "n_docs", "doc_ppm")
      .orderBy("cluster_size")
  }

  private val q136Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY 1),
       tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_total FROM cs),
       h AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM cs GROUP BY 1)
       SELECT cluster_size, n_clusters,
              cluster_size * n_clusters AS n_docs,
              (cluster_size * n_clusters * 1000000) // n_total AS doc_ppm
       FROM h LEFT JOIN tot ON true ORDER BY cluster_size"""

  /** SOFT-DEDUP TRAINING WEIGHTS — the downweight-don't-drop
    * alternative to q68's hard canonical keep (q88's quality-side
    * soft filter, applied to redundancy): every document gets
    * sampling weight 1/|its near-dup cluster| in integer ppm, so a
    * page crawled 40 times contributes ONE document's worth of
    * expected training mass while — unlike canonical-only dropping —
    * all intra-cluster variants stay samplable (the variant diversity
    * dropping destroys is exactly what q134's bias audit measures).
    * Per-cluster weights sum to 1e6 up to integer-division
    * truncation (< cluster_size ppm, spec-pinned).
    *
    * Scale shape: q65's cached edge-sized labels + one count agg +
    * one equi-join on cluster_id — nothing beyond the dedup stage
    * the corpus already runs. */
  def q164(s: SparkSession, dir: String): DataFrame =
    docWeights(s, dir).orderBy("doc_id")

  /** q164's core without the presentation orderBy — the per-doc
    * (cluster_id, cluster_size, weight_ppm) frame, shared with the
    * dedup-aware mixture (q172). Sizes come from the EDGE-SIZED
    * cached label frame (every member of a multi-doc component
    * carries an edge, so the frame holds the full membership);
    * singletons are absent and default to size 1 — this keeps the
    * corpus scan SINGLE (q65(s,dir) for both sizes and the join
    * would run the docs scan + label join twice inside one
    * action). */
  private[operators] def docWeights(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
      .select("doc_id", "cluster_id", "cluster_size", "weight_ppm")
  }

  private val q164Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY 1)
       SELECT cl.doc_id, cl.cluster_id, cs.cluster_size,
              1000000 // cluster_size AS weight_ppm
       FROM cl JOIN cs ON cl.cluster_id = cs.cluster_id
       ORDER BY cl.doc_id"""

  /** SOFT-DEDUP EPOCH SAMPLE — q164's weights actually consumed: a
    * training epoch drawn by testing each document's content-hash
    * coin against its cluster weight, `bucket/1000 < weight_ppm/1e6`
    * cross-multiplied to the PURE INTEGER `bucket·1000 < weight_ppm`
    * (q88's no-doubles discipline). Expected kept mass per near-dup
    * cluster is ONE document regardless of how often it was crawled,
    * while which variant survives varies by content hash — the
    * sampled form of the downweighting story. Byte-identical copies
    * share the coin (same text hash), so an exact-dup family inside
    * a cluster keeps all-or-none — expectation unchanged, variance
    * documented. Deterministic: same corpus → same epoch.
    *
    * Scale shape: q164 (cached labels + size join) + one map-only
    * coin test. */
  def q165(s: SparkSession, dir: String): DataFrame = {
    val coins = Tables(s, dir, "documents")
      .select(col("doc_id"), expr(Sampling.BucketExpr).as("bucket"))
    q164(s, dir).join(coins, "doc_id")
      .filter(col("bucket") * lit(1000L) < col("weight_ppm"))
      .select("doc_id", "cluster_id", "cluster_size", "weight_ppm", "bucket")
      .orderBy("doc_id")
  }

  // lazy: reads Sampling's SQL fragment while Sampling's own
  // initializer reads this object's CTEs — the q134Sql deadlock class
  private lazy val q165Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY 1),
       w AS (SELECT cl.doc_id, cl.cluster_id, cs.cluster_size,
               1000000 // cluster_size AS weight_ppm
             FROM cl JOIN cs ON cl.cluster_id = cs.cluster_id),
       b AS (SELECT doc_id, ${Sampling.BucketSql} AS bucket FROM documents)
       SELECT w.doc_id, w.cluster_id, w.cluster_size, w.weight_ppm, b.bucket
       FROM w JOIN b ON w.doc_id = b.doc_id
       WHERE b.bucket * 1000 < w.weight_ppm
       ORDER BY w.doc_id"""

  /** EFFECTIVE CORPUS SIZE — q164's weights rolled up to the number
    * a mixture owner actually budgets with: per source, raw token
    * volume vs EFFECTIVE tokens (Σ weight_ppm·n_tokens / 1e6 — the
    * expected training mass under soft dedup) and the deflation
    * ratio in integer ppm. A source that is 40× crawl-duplicated
    * shows effective ≈ raw/40 here, which is what q72's mixture
    * budget should be fed instead of raw counts — this is the bridge
    * between the dedup family and the sampling family.
    *
    * Numerics (the q142 class): weight_ppm·n_tokens summed over a
    * 100 TB corpus exceeds long (corpus tokens ×1e6 ≈ 2.5e19 >
    * 9.2e18), so the product is summed through DECIMAL(38,0)
    * (DuckDB HUGEINT — raises, never wraps; precision-38 bounds the
    * corpus at ~1e32 tokens, documented) and divided ONCE with
    * integer `div` (BIGINT both engines). raw_tokens stays a plain
    * long sum (2.5e13 at 100 TB — comfortable).
    *
    * Scale shape: cached q65 labels (edge-sized) + one
    * (doc_id, source, n_tokens) corpus projection, two equi-joins,
    * one map-side-combined groupBy to a #sources-row frame. */
  def q167(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"size($tokensExpr)").cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("weight_ppm",
        coalesce(expr("1000000 div cluster_size"), lit(1000000L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("raw_tokens"),
        sum(col("n_tokens").cast("decimal(38,0)") * col("weight_ppm")).as("wtok"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        expr("CAST(wtok div 1000000 AS BIGINT)").as("effective_tokens"),
        expr("CAST(wtok div raw_tokens AS BIGINT)").as("deflation_ppm"))
      .orderBy("source")
  }

  /** q167's per-source effective-mass CTE chain (expects `sh`/`cl`
    * from [[shingleCte]]/[[clusterCte]] in scope): final CTE `eff` =
    * (source, n_docs, raw_sum HUGEINT, wtok HUGEINT) — the exact
    * integer moments q167 and the epoch scheduler
    * ([[Sampling.q177]]'s oracle) both derive from, spelled ONCE. */
  private[operators] val effCte =
    """cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY 1),
       w AS (SELECT cl.doc_id, 1000000 // cluster_size AS weight_ppm
             FROM cl JOIN cs ON cl.cluster_id = cs.cluster_id),
       tok AS (SELECT doc_id, source,
                 len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
               FROM documents),
       j AS (SELECT t.source, t.n_tokens::HUGEINT AS n_tokens, w.weight_ppm
             FROM tok t JOIN w ON t.doc_id = w.doc_id),
       eff AS (SELECT source, count(*) AS n_docs,
                 sum(n_tokens) AS raw_sum,
                 sum(n_tokens * weight_ppm) AS wtok
               FROM j GROUP BY source)"""

  private val q167Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       $effCte
       SELECT source, n_docs,
         CAST(raw_sum AS BIGINT) AS raw_tokens,
         CAST(wtok // 1000000 AS BIGINT) AS effective_tokens,
         CAST(wtok // raw_sum AS BIGINT) AS deflation_ppm
       FROM eff ORDER BY source"""

  /** INVERTED-INDEX HEALTH REPORT — the observability face of the
    * dedup index every other operator in this module rides: distinct
    * shingles, posting volume, the hot set DfCap drops (count, ppm,
    * and the posting volume lost to it), and the df distribution's
    * p50/p90/max by exact histogram selection. This is the report
    * that says whether DfCap is tuned for a corpus BEFORE a
    * quadratic hot key finds out in production — a boilerplate
    * explosion shows up here as hot_ppm and dropped postings
    * climbing.
    *
    * Scale shape: one shingle explode → df agg (map-side combined);
    * the selection window runs over the df DOMAIN histogram (≤ max
    * df distinct values); 1-row output, 1-row broadcasts
    * (left-join-true). All integer arithmetic. */
  def q145(s: SparkSession, dir: String): DataFrame = {
    val df = shingled(s, dir).groupBy("s").agg(count(lit(1)).as("df"))
    val stats = df.agg(
      count(lit(1)).as("n_shingles"),
      sum("df").as("n_postings"),
      sum(when(col("df") > DfCap, 1L).otherwise(0L)).as("n_hot"),
      sum(when(col("df") > DfCap, col("df")).otherwise(0L)).as("dropped_postings"),
      max("df").as("max_df"))
    // r7: q123's two-phase core replaces the single-partition
    // Window.orderBy; its ride-along total (Σc = n_shingles by
    // construction) also retires the broadcast(stats) consumer here
    val sel = ops.globalCumsum(df.groupBy("df").agg(count(lit(1)).as("c")),
        col("c"), "cum", "n_shingles", col("df"))
      .agg(
        min(when(col("cum") >= expr("(n_shingles*50 + 99) div 100"), col("df"))).as("p50_df"),
        min(when(col("cum") >= expr("(n_shingles*90 + 99) div 100"), col("df"))).as("p90_df"))
    stats.join(broadcast(sel), lit(true), "left")
      .select(col("n_shingles"), col("n_postings"), col("n_hot"),
        expr("CASE WHEN n_shingles = 0 THEN NULL ELSE (n_hot * 1000000) div n_shingles END")
          .as("hot_ppm"),
        col("dropped_postings"), col("p50_df"), col("p90_df"), col("max_df"))
  }

  private val q145Sql =
    s"""WITH $shingleRawCte,
       d AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh0 GROUP BY 1),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_shingles,
                        CAST(sum(df) AS BIGINT) AS n_postings,
                        CAST(sum(CASE WHEN df > $DfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
                        CAST(sum(CASE WHEN df > $DfCap THEN df ELSE 0 END) AS BIGINT)
                          AS dropped_postings,
                        max(df) AS max_df
                 FROM d),
       h AS (SELECT df, count(*) AS c FROM d GROUP BY 1),
       cum AS (SELECT df, CAST(sum(c) OVER (ORDER BY df) AS BIGINT) AS cum FROM h),
       sel AS (SELECT min(CASE WHEN cum >= (n_shingles*50 + 99) // 100 THEN df END) AS p50_df,
                      min(CASE WHEN cum >= (n_shingles*90 + 99) // 100 THEN df END) AS p90_df
               FROM cum LEFT JOIN (SELECT n_shingles FROM stats) ON true)
       SELECT n_shingles, n_postings, n_hot,
              CASE WHEN n_shingles = 0 THEN NULL
                   ELSE (n_hot * 1000000) // n_shingles END AS hot_ppm,
              dropped_postings, p50_df, p90_df, max_df
       FROM stats LEFT JOIN sel ON true"""

  /** JACCARD THRESHOLD-CALIBRATION HISTOGRAM — the curve that picks
    * JaccThr for a corpus: every co-shingled pair's exact Jaccard
    * bucketed into tenth-wide bands, with the reverse-cumulative
    * pair count (pairs that WOULD be called duplicates at each
    * candidate threshold). Moving the gate from 0.6 to 0.5 costs
    * exactly cum_pairs_ge(5) − cum_pairs_ge(6) extra merges — read
    * straight off this table instead of rerunning dedup per
    * candidate.
    *
    * Banding arithmetic: floor(jacc·10) where jacc is the SAME IEEE
    * double both engines compute (c/(n1+n2−c)) — deterministic
    * band, all counts integer after it. One inverted-index pair
    * pass; the cumulative window runs over the ≤10-row band frame. */
  def q146(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir)
      .withColumn("band", least(floor(col("jacc_raw") * 10.0).cast("int"), lit(9)))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .withColumn("band_lo", col("band") / 10.0)
      .withColumn("cum_pairs_ge", sum("n_pairs").over(
        Window.orderBy(col("band").desc)))
      .select("band", "band_lo", "n_pairs", "cum_pairs_ge")
      .orderBy("band")

  private val q146Sql =
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                 FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       j AS (SELECT least(CAST(floor((c*1.0/(n1.n + n2.n - c))*10.0) AS INT), 9) AS band
             FROM pairs JOIN sz n1 ON d1=n1.doc_id JOIN sz n2 ON d2=n2.doc_id),
       h AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1)
       SELECT band, band/10.0 AS band_lo, n_pairs,
              CAST(sum(n_pairs) OVER (ORDER BY band DESC) AS BIGINT) AS cum_pairs_ge
       FROM h ORDER BY band"""

  /** DEDUP METHOD EVALUATION — q143's sibling for the text-dedup
    * family: the LSH shortcut (q42 MinHash banding) scored against
    * the exact inverted-index truth (q41) as pair-level recall AND
    * precision in integer ppm — the number that decides whether the
    * banding geometry is promoted for a corpus. (q42 verifies exact
    * Jaccard on its candidates, so precision is 1.0 by construction
    * — the report PROVES that rather than assuming it; recall is
    * where banding can lose.)
    *
    * Scale shape: both pair sets are near-dup-sized (not corpus-
    * sized); truth is localCheckpointed (two consumers), matched =
    * one semi join, the report is 1 row. rows-only: q42 is
    * hash-seeded (its own rationale). */
  def q144(s: SparkSession, dir: String): DataFrame = {
    val truth = q41(s, dir).select("d1", "d2").localCheckpoint(false)
    val found = mhPairs(s, dir).select("d1", "d2") // cache = the barrier
    val matched = found.join(truth, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_matched"))
    truth.agg(count(lit(1)).as("n_truth"))
      .join(broadcast(found.agg(count(lit(1)).as("n_found"))), lit(true), "left")
      .join(broadcast(matched), lit(true), "left")
      .select(lit("minhash_lsh").as("method"), col("n_truth"), col("n_found"), col("n_matched"),
        expr("CASE WHEN n_truth = 0 THEN NULL ELSE (n_matched * 1000000) div n_truth END")
          .as("recall_ppm"),
        expr("CASE WHEN n_found = 0 THEN NULL ELSE (n_matched * 1000000) div n_found END")
          .as("precision_ppm"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup that scales past
    * pairwise comparison by clustering FIRST — k = ⌈√n⌉ k-means
    * cells over the embeddings ([[Similarity.ivfCellsOf]], map-side
    * assignment), then cosine comparisons only between vectors
    * SHARING a cell. Each vector lists its top-2 cells (soft
    * assignment), so a pair is compared if either's two cells
    * overlap — comparison volume stays Σ|cell|² ≈ 4·n^1.5, not n²,
    * and pair generation is an equi self-join on the cell id:
    * shuffle-partitioned, AQE-skew-split, never a cartesian. The
    * keep rule is deterministic — a vector is dropped iff a
    * LOWER-id vector sharing a cell matches at cosine ≥ thr — so
    * the kept set is stable across reruns and partitionings.
    *
    * Approximate by design: a near-dup pair co-locating in neither
    * top-2 cell is missed. At SemDeDup's real operating point
    * (near-identical embeddings, cosine ≥ 0.9) co-location is
    * essentially certain — DedupSpec proves recall 1.0 on planted
    * synthetic dups. This corpus's planted pairs sit at 0.45-0.48,
    * BARELY over the q44 threshold (~62° apart — semantically
    * unrelated vectors that q44's exact-verify LSH exists to catch);
    * measured cell co-location there is ~0.7 at sf0.001, and the
    * spec asserts that floor. Use q44 when the threshold is
    * adversarially low; use SemDeDup when "duplicate" means what it
    * means in a training corpus. rows-only: cell ids are
    * kmeans-dependent, so there is no SQL oracle; the spec
    * recomputes every keep decision brute-force from the operator's
    * own cell assignment. */
  def q45(s: SparkSession, dir: String): DataFrame =
    semanticDedupCells(Similarity.ivfCells(s, dir)._1, CosThr.toDouble) // shared cached fit

  private[graft] def semanticDedup(s: SparkSession, emb: DataFrame, thr: Double,
      fitFloor: Long = Similarity.FitSampleFloor,
      fitPerCell: Long = Similarity.FitSamplePerCell): DataFrame =
    // three consumers in the core — materialize the cell assignment
    // once so the Lloyd-fit scan isn't re-run per subtree
    semanticDedupCells(Similarity.ivfCellsOf(s, emb, None, fitFloor, fitPerCell)
      ._1.localCheckpoint(false), thr)

  /** q45 core over an already-materialized cell assignment. */
  private def semanticDedupCells(cells: DataFrame, thr: Double): DataFrame = {
    import graft.functions.VectorOps.dotp
    val a = cells.select(col("vec_id").as("a"), explode(array(col("cid"), col("cid2"))).as("cell"),
      col("ed").as("ea"), col("nrm").as("na"))
    val b = cells.select(col("vec_id").as("b"), explode(array(col("cid"), col("cid2"))).as("cell"),
      col("ed").as("eb"), col("nrm").as("nb"))
    // match-multiplying self-join: keep it a shuffle join so the
    // within-cell pair explosion parallelizes by cell (q43 lesson).
    // Pairs sharing both cells are generated twice — harmless, since
    // only the DISTINCT dropped-id set survives.
    val dropped = a.hint("shuffle_merge").join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(dotp(col("ea"), col("eb")) / (col("na") * col("nb")) >= thr)
      .select(col("b").as("vec_id")).distinct()
    cells.select("vec_id", "cid", "cid2")
      .join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("cid2"), col("is_dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Band-skew multiple (×1000) at which [[q154]] abandons banding:
    * ≥3× the uniform candidate floor says the corpus is
    * cluster-structured and the band join's cost will track the
    * (possibly quadratic) true-pair volume. Driver-family corpora
    * measure ~1.0–1.3×; the x30 clustered stress corpus measured a
    * 6.5× median (SURVEY §4.1). One constant so the operator, its
    * spec, and the docs agree. */
  private[graft] val RouteSkewX1000 = 3000L

  /** DEDUP AUTO-ROUTER — the dispatcher the x30 stress finding asked
    * for: q151's bounded diagnosis (per-band exact candidate volume
    * vs the uniform floor, ~15 s at 60k vectors) is measured FIRST,
    * and the corpus is routed to q44's banding when buckets are
    * near-uniform (skew median < [[RouteSkewX1000]]) or to q45's
    * IVF-cell pass when they are cluster-skewed — the regime where
    * q44's runtime tracks a quadratic true-pair answer (659 s at x30)
    * while q45's per-vector verdict output stays linear (<60 s).
    *
    * Output is the per-vector keep verdict with the diagnosis
    * attached: (vec_id, kept, route, med_skew_x1000). Emitting PAIRS
    * from both routes would be wrong by construction — on exactly
    * the clustered corpora that trigger the cells route, the pair
    * set itself is quadratic (the x30 answer was 1.74M pairs at 6k
    * vectors), so the uniform router contract is the linear verdict
    * frame. On the banding route the verdict derives from q44's
    * exact pair set by the same drop rule q45 applies within cells
    * (drop the larger id of every qualifying pair), which DedupSpec
    * pins pairwise-exactly against q44.
    *
    * Scale shape: the diagnosis is one bounded two-level agg over
    * the same signature pass q44 would run; the decision is a
    * #bands-row collect; both routes are the already-scale-audited
    * operators unchanged. Rows-only (routing + hash-dependent). */
  def q154(s: SparkSession, dir: String): DataFrame = {
    val skews = ndDiagnosis(s, dir).select("skew_x1000")
      .collect().map(_.getLong(0)).sorted
    val medSkew = skews(skews.length / 2)
    val route = if (medSkew >= RouteSkewX1000) "cells" else "banding"
    val verdicts =
      if (route == "banding") {
        val dropped = semPairs(s, dir).select(col("id2").as("vec_id")).distinct()
          .withColumn("is_dup", lit(true))
        Tables(s, dir, "embeddings").select(col("vec_id"))
          .join(dropped, Seq("vec_id"), "left")
          .select(col("vec_id"), col("is_dup").isNull.as("kept"))
      } else q45(s, dir).select("vec_id", "kept")
    verdicts
      .withColumn("route", lit(route))
      .withColumn("med_skew_x1000", lit(medSkew))
      .orderBy("vec_id")
  }

  /** CROSS-SOURCE NEAR-DUP MATRIX — q95's exact-dup matrix lifted to
    * the NEAR-dup axis: per unordered source pair, how many verified
    * q41 Jaccard pairs cross them (diagonal = within-source), with
    * each cell's integer-ppm share of all near-dup pairs. Exact
    * copies concentrate in syndication mirrors; near-dups are where
    * template families and lightly-rewritten content span crawls —
    * the report that says which source pair's overlap is boilerplate
    * rather than byte-identical mirroring, and the source-level
    * rollup of the pair frame q154 routes on.
    *
    * Scale shape: the memoized near-dup-sized pair frame
    * ([[pairCounts]]) + two doc→source equi-joins into a ≤#sources²
    * aggregate; the 1-row total broadcasts back by left-join-true
    * (q107 discipline). */
  def q175(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val m = jaccardPairs(s, dir).filter(col("jacc_raw") >= JaccThr.toDouble)
      .select("d1", "d2")
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .groupBy(least(col("src1"), col("src2")).as("s1"),
        greatest(col("src1"), col("src2")).as("s2"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = m.agg(sum("n_pairs").as("tot"))
    m.join(broadcast(tot), lit(true), "left")
      .select(col("s1"), col("s2"), col("n_pairs"),
        // pair counts are quadratic-class: multiply through
        // DECIMAL(38,0), never bare long (the q142 wrap rule)
        expr("CASE WHEN tot IS NULL THEN NULL ELSE (CAST(n_pairs AS DECIMAL(38,0)) * 1000000) div tot END")
          .as("share_ppm"))
      .orderBy("s1", "s2")
  }

  private val q175Sql =
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                 FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       j AS (SELECT d1, d2
             FROM pairs JOIN sz n1 ON d1=n1.doc_id JOIN sz n2 ON d2=n2.doc_id
             WHERE c*1.0/(n1.n + n2.n - c) >= $JaccThr),
       m AS (SELECT least(a.source, b.source) AS s1,
                    greatest(a.source, b.source) AS s2,
                    CAST(count(*) AS BIGINT) AS n_pairs
             FROM j JOIN documents a ON j.d1 = a.doc_id
                    JOIN documents b ON j.d2 = b.doc_id
             GROUP BY 1, 2),
       tp AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM m)
       SELECT s1, s2, n_pairs,
              CASE WHEN tot IS NULL THEN NULL
                   ELSE CAST((n_pairs::HUGEINT * 1000000) // tot AS BIGINT) END AS share_ppm
       FROM m LEFT JOIN tp ON true
       ORDER BY s1, s2"""

  /** NEAR-DUP CLUSTER PURITY — the composition audit of q65's
    * components: per multi-doc cluster, its size, distinct languages
    * and sources, and the modal-language share in integer ppm. A
    * template family syndicated across sources or "translated"
    * boilerplate shows up as low-purity clusters — exactly the
    * components whose canonical-keep decision (q68/q161) silently
    * collapses cross-language/cross-source variety, and the
    * cluster-level reason q134's population audit reads the way it
    * does. Only the max COUNT is reported (never which language), so
    * no cross-engine argmax tie-break exists to diverge.
    *
    * Scale shape: the cached edge-sized label frame (multi-doc
    * members by construction) + one doc-keyed join; two two-level
    * hash aggregates on the cluster key; no windows. */
  def q176(s: SparkSession, dir: String): DataFrame = {
    val d = clusterLabels(s, dir)
      .join(Tables(s, dir, "documents").select("doc_id", "lang", "source"), "doc_id")
    val base = d.groupBy("cluster_id").agg(
      count(lit(1)).as("n_docs"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"))
    val modal = d.groupBy("cluster_id", "lang").agg(count(lit(1)).as("c"))
      .groupBy("cluster_id").agg(max("c").as("modal"))
    base.join(modal, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_langs"), col("n_sources"),
        expr("(modal * 1000000) div n_docs").as("modal_lang_ppm"))
      .orderBy("cluster_id")
  }

  private val q176Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       cs AS (SELECT cluster_id FROM cl GROUP BY 1 HAVING count(*) >= 2),
       d AS (SELECT cl.doc_id, cl.cluster_id, doc.lang, doc.source
             FROM cl JOIN cs ON cl.cluster_id = cs.cluster_id
                     JOIN documents doc ON cl.doc_id = doc.doc_id),
       base AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
                FROM d GROUP BY 1),
       ml AS (SELECT cluster_id, CAST(max(c) AS BIGINT) AS modal
              FROM (SELECT cluster_id, lang, count(*) AS c FROM d GROUP BY 1, 2)
              GROUP BY 1)
       SELECT base.cluster_id, n_docs, n_langs, n_sources,
              CAST((modal * 1000000) // n_docs AS BIGINT) AS modal_lang_ppm
       FROM base JOIN ml ON base.cluster_id = ml.cluster_id
       ORDER BY base.cluster_id"""

  /** DUPLICATION×QUALITY PROFILE — per cluster-size BAND (x1 /
    * x2-3 / x4-7 / x8+), document and token volume, corpus share,
    * mean q60 quality, and PII incidence: the audit that answers
    * "is duplicated content systematically worse?" BEFORE a dedup
    * policy ships. If the x8+ band's mean quality sags and its PII
    * rate climbs (boilerplate/templates duplicate most), hard
    * canonical-keep (q65) is safe; if heavy bands hold quality,
    * soft weighting (q164/q165) preserves mass a hard drop would
    * burn. Complements q134 (kept-vs-dropped bias, a 2-row view) by
    * resolving WHERE in the duplication spectrum quality moves.
    *
    * Numerics: quality in q134's re-integerized r4 units
    * (floor(q·10⁴+0.5) longs summed, ONE divide); shares through
    * DECIMAL(38,0) (the q142 class); all else integer.
    *
    * Scale shape: cached q65 labels (edge-sized) left-joined onto
    * two map-only passes (q60 score + PII flags), singleton fallback
    * by coalesce (the q167 idiom — singletons never enter the label
    * loop); one map-side-combined groupBy to ≤4 band rows; the share
    * join is a 1-row broadcast. */
  def q178(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val byBand = TextOps.docQuality(s, dir)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("band", expr(
        """CASE WHEN cluster_size = 1 THEN 'x1'
                WHEN cluster_size <= 3 THEN 'x2-3'
                WHEN cluster_size <= 7 THEN 'x4-7'
                ELSE 'x8+' END"""))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"),
        sum("n_tokens").as("n_tokens"),
        sum("q4").as("uq"),
        sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_pii"))
      // ≤4-row frame, two consumers (totals + report) on an
      // expensive lineage (q60 scan + scrub + label joins): tiny
      // checkpoint retires a duplicate corpus scan (the q79/q84 rule)
      .localCheckpoint(false)
    val tot = byBand.agg(sum("n_docs").as("td"))
    byBand.join(broadcast(tot), lit(true), "left")
      .select(col("band"), col("n_docs"), col("n_clusters"), col("n_tokens"),
        ops.r4(col("uq") / (lit(10000.0) * col("n_docs"))).as("mean_quality"),
        expr("(n_pii * 1000000) div n_docs").as("pii_ppm"),
        expr("CASE WHEN td IS NULL THEN NULL ELSE (CAST(n_docs AS DECIMAL(38,0)) * 1000000) div td END")
          .as("share_ppm"))
      .orderBy("band")
  }

  // lazy: reads TextOps fragments (the q134Sql init-cycle class)
  private lazy val q178Sql =
    s"""WITH RECURSIVE $shingleCte,
       $clusterCte,
       dq_cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM cl GROUP BY 1),
       ${TextOps.docQualityCte},
       dq_b AS (SELECT CASE WHEN cluster_size = 1 THEN 'x1'
                            WHEN cluster_size <= 3 THEN 'x2-3'
                            WHEN cluster_size <= 7 THEN 'x4-7'
                            ELSE 'x8+' END AS band,
                  q.n_tokens, q.q4, p.is_clean, c.cluster_id
                FROM dq_q q JOIN dq_p p ON q.doc_id = p.doc_id
                     JOIN cl c ON q.doc_id = c.doc_id
                     JOIN dq_cs ON c.cluster_id = dq_cs.cluster_id),
       dq_g AS (SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                  CAST(sum(q4) AS BIGINT) AS uq,
                  sum(CASE WHEN is_clean THEN 0 ELSE 1 END) AS n_pii
                FROM dq_b GROUP BY 1),
       dq_tot AS (SELECT sum(n_docs) AS td FROM dq_g)
       SELECT band, n_docs, n_clusters, n_tokens,
              ${ops.R4("uq/(10000.0*n_docs)")} AS mean_quality,
              CAST((n_pii * 1000000) // n_docs AS BIGINT) AS pii_ppm,
              CASE WHEN td IS NULL THEN NULL
                   ELSE CAST((n_docs::HUGEINT * 1000000) // td AS BIGINT) END AS share_ppm
       FROM dq_g LEFT JOIN dq_tot ON true
       ORDER BY band"""

  /** Cross-source duplication matrix — which ingestion sources
    * duplicate which: for every unordered source pair, how many
    * DISTINCT texts appear in both (the crawl-overlap report that
    * decides which source to drop or down-weight before paying for
    * dedup at 100 TB), plus each source's internal exact-dup count on
    * the diagonal.
    *
    * Scale shape: one md5 projection, one (hash, source) distinct
    * (map-side combined — the shuffle carries distinct pairs), then a
    * self-equi-join ON THE HASH whose fan-out is bounded by #sources
    * per hash (≤ 5 here, never corpus-sized) into a #source²-row
    * aggregate. All integers. */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val hs = Tables(s, dir, "documents")
      .select(md5(col("text").cast("binary")).as("h"), col("source"))
    val hsd = hs.distinct()
    val pairs = hsd.as("a").join(hsd.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("shared_texts"))
    val diag = hs.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source").as("s1"))
      .agg(sum(col("c") - lit(1L)).as("shared_texts"))
      .select(col("s1"), col("s1").as("s2"), col("shared_texts"))
    pairs.union(diag)
      .filter(col("shared_texts") > 0)
      .orderBy("s1", "s2")
  }

  private val q95Sql =
    """WITH hs AS (SELECT md5(text) AS h, source FROM documents),
       hsd AS (SELECT DISTINCT h, source FROM hs),
       pairs AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared_texts
                 FROM hsd a JOIN hsd b ON a.h = b.h AND a.source < b.source
                 GROUP BY 1, 2),
       diag AS (SELECT source AS s1, source AS s2,
                       CAST(sum(c - 1) AS BIGINT) AS shared_texts
                FROM (SELECT source, h, count(*) AS c FROM hs GROUP BY 1, 2)
                GROUP BY 1, 2)
       SELECT s1, s2, CAST(shared_texts AS BIGINT) AS shared_texts
       FROM (SELECT * FROM pairs UNION ALL SELECT * FROM diag)
       WHERE shared_texts > 0
       ORDER BY s1, s2"""

  /** Lexical-vs-semantic near-dup AGREEMENT — the calibration report
    * that justifies running both detector families at 100 TB: pairs
    * flagged by the 3-gram Jaccard detector (q41), by the embedding
    * cosine detector (q44), or by both. The two detectors see
    * different rewrites — token edits break shingles but not
    * meaning; translation/paraphrase breaks both differently — so
    * 'both' measures redundancy and each '_only' bucket measures
    * what dropping that detector would silently miss.
    *
    * Exploits the corpus contract doc_id ≡ vec_id (1:1 text ↔
    * embedding). Composition of two verified operators + one
    * pair-keyed full-outer join and a 3-row aggregate — both inputs
    * are their existing linear pipelines. Oracle = the two oracle
    * CTE texts composed, so the gate re-proves both detectors AND
    * the join. */
  def q101(s: SparkSession, dir: String): DataFrame = {
    val lex = q41(s, dir).select(col("d1"), col("d2"), lit(true).as("lex"))
    val sem = semPairs(s, dir)
      .select(col("id1").as("d1"), col("id2").as("d2"), lit(true).as("sem"))
    lex.join(sem, Seq("d1", "d2"), "full_outer")
      .select(
        when(col("lex").isNotNull && col("sem").isNotNull, "both")
          .when(col("lex").isNotNull, "lexical_only")
          .otherwise("semantic_only").as("category"))
      .groupBy("category").agg(count(lit(1)).as("n_pairs"))
      .orderBy("category")
  }

  private val q101Sql = {
    val cos = """list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
    s"""WITH $shingleCte,
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
                 FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       lex AS (SELECT d1, d2 FROM pairs
               JOIN sz n1 ON d1=n1.doc_id JOIN sz n2 ON d2=n2.doc_id
               WHERE c*1.0/(n1.n + n2.n - c) >= $JaccThr),
       sem AS (SELECT a.vec_id AS d1, b.vec_id AS d2
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
               WHERE $cos >= $CosThr),
       u AS (SELECT coalesce(l.d1, s.d1) AS d1, coalesce(l.d2, s.d2) AS d2,
                    l.d1 IS NOT NULL AS in_lex, s.d1 IS NOT NULL AS in_sem
             FROM lex l FULL OUTER JOIN sem s ON l.d1 = s.d1 AND l.d2 = s.d2)
       SELECT CASE WHEN in_lex AND in_sem THEN 'both'
                   WHEN in_lex THEN 'lexical_only'
                   ELSE 'semantic_only' END AS category,
              count(*) AS n_pairs
       FROM u GROUP BY 1 ORDER BY 1"""
  }

  /** Docs per saturation-curve bucket. */
  private val DupBucket = 1000L

  /** DUP-RATE saturation curve: exact-duplicate fraction per
    * [[DupBucket]]-doc ingestion bucket (doc_id order) plus the
    * running cumulative rate — the crawl-saturation signal from the
    * duplication angle, the exact-dup complement of q93's
    * vocabulary-growth curve (a crawl nearing exhaustion shows vocab
    * growth flattening AND dup rate climbing). A doc is a dup iff an
    * earlier doc (smaller doc_id) has the same md5 — q40's group
    * rule — computed via the first-occurrence rewrite: min doc_id
    * per hash, one hash-keyed groupBy + equi-join (both bounded by
    * distinct texts), then a bucket aggregate and a window over the
    * n/1000-row BUCKET frame only; the corpus is never windowed.
    * All-integer until the two r6 rates. */
  def q109(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val firsts = d.groupBy("h").agg(min("doc_id").as("first_id"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    d.join(firsts, "h")
      .groupBy(expr(s"doc_id div $DupBucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") > col("first_id"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_dup", sum("n_dup").over(w))
      .select(col("bucket"), col("n_docs"), col("n_dup"),
        ops.r6(col("n_dup") * lit(1.0) / col("n_docs")).as("dup_rate"),
        col("cum_docs"), col("cum_dup"),
        ops.r6(col("cum_dup") * lit(1.0) / col("cum_docs")).as("cum_dup_rate"))
      .orderBy("bucket")
  }

  private val q109Sql =
    s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
       f AS (SELECT h, min(doc_id) AS first_id FROM d GROUP BY 1),
       b AS (SELECT doc_id // $DupBucket AS bucket, count(*) AS n_docs,
               sum(CASE WHEN doc_id > first_id THEN 1 ELSE 0 END) AS n_dup
             FROM d JOIN f USING (h) GROUP BY 1),
       c AS (SELECT bucket, n_docs,
               CAST(n_dup AS BIGINT) AS n_dup,
               CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
               CAST(sum(n_dup) OVER (ORDER BY bucket) AS BIGINT) AS cum_dup
             FROM b)
       SELECT bucket, n_docs, n_dup,
              ${ops.R6("n_dup*1.0 / n_docs")} AS dup_rate,
              cum_docs, cum_dup,
              ${ops.R6("cum_dup*1.0 / cum_docs")} AS cum_dup_rate
       FROM c ORDER BY bucket"""

  /** MinHash permutations for the source-similarity sketch. */
  private[graft] val MhPerms = 128

  /** Sketch core over a (source, h) element frame — shared with the
    * spec, which drives it with known-overlap synthetic sets. The
    * #sources² pair join is a nested-loop over the #sources-row
    * SIGNATURE frame (20 rows here) — bounded by construction, never
    * data-sized; the corpus itself only flows through the mergeable
    * signature aggregate. */
  private[graft] def sourceSimCore(elems: DataFrame): DataFrame = {
    val sigs = elems.groupBy("source")
      .agg(graft.functions.MinHashSig.minhashSig(MhPerms)(col("h")).as("sig"))
    val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        ops.r6(expr(
          s"aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) * 1.0D / $MhPerms"))
          .as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Source-pair similarity ESTIMATE via mergeable MinHash
    * signatures — the SKETCH path of q95's exact overlap matrix, and
    * the set-similarity member of the sketch family (q14 HLL / q19
    * GK / q76 Misra-Gries): when the exact matrix's hash-keyed
    * self-join is too hot (thousands of crawl snapshots, repeated
    * re-audits), each source reduces to 128 longs map-side and every
    * pairwise Jaccard reads off the signatures — the corpus is
    * touched ONCE, and adding a new crawl never rescans the old
    * ones (signatures merge). Estimator: agreeing-slot fraction,
    * s.e. sqrt(J(1-J)/128) ≈ 0.044 worst case. Hash-dependent →
    * rows-only; the spec pins the estimate against exact Jaccard on
    * known-overlap sets and signature invariance to partitioning. */
  def q110(s: SparkSession, dir: String): DataFrame =
    sourceSimCore(Tables(s, dir, "documents")
      .select(col("source"), xxhash64(col("text")).as("h")))

  /** Overlap core over a (source, text) frame — shared with the
    * spec, which drives it with known-cardinality synthetic sets.
    * The pair join is a nested loop over the #sources-row SKETCH
    * frame (bounded by construction, like [[sourceSimCore]]); the
    * corpus flows only through the mergeable HLL aggregate. The
    * sketch frame is localCheckpointed because both join sides
    * consume it and exchange-reuse deduping the corpus-sized
    * aggregate subtree is a heuristic, not a guarantee (q65
    * lesson) — here the checkpoint is #sources rows against a
    * full-corpus scan, the clear win side of the barrier
    * trade-off. */
  private[graft] def overlapEstCore(rows: DataFrame): DataFrame = {
    val sk = rows.groupBy("source")
      .agg(hll_sketch_agg(col("text")).as("sk"))
      .withColumn("est_n", hll_sketch_estimate(col("sk")))
      .localCheckpoint(false)
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"),
      col("est_n").as("est_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"),
      col("est_n").as("est_b"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("est_union", hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .select(col("source_a"), col("source_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")).as("est_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Cross-source DISTINCT-overlap ESTIMATE via mergeable HLL
    * sketches (Spark's native DataSketches HllSketch surface) — the
    * sketch path of q95's exact duplication matrix, by
    * inclusion–exclusion: |A∩B| = |A| + |B| − |A∪B|, every term an
    * HLL estimate and the union computed by merging the two
    * sketches WITHOUT rescanning either source. Where q110's
    * MinHash signatures estimate Jaccard (a ratio), this estimates
    * the absolute shared-distinct-text count — the two sketches
    * together recover what q95 computes exactly with a hash-keyed
    * self-join. At 100 TB: one corpus pass builds #sources sketches
    * (map-side partial HLLs merge through one tiny shuffle); every
    * pairwise estimate is sketch-local; a new crawl snapshot adds
    * one sketch and never rescans the old ones. DataSketches HLL is
    * exact in sparse mode (small sources) and ~1.6 % rel. s.e. at
    * lgK 12 beyond; inclusion–exclusion amplifies that on small
    * intersections — the spec pins both regimes. Sketch-dependent →
    * rows-only; DedupSketchSpec checks against the exact overlap. */
  def q113(s: SparkSession, dir: String): DataFrame =
    overlapEstCore(Tables(s, dir, "documents").select(col("source"), col("text")))

  lazy val qs: Seq[Q] = Seq(
    Q("q40_exact_dedup", q40, Some(q40Sql)),
    Q("q41_ngram_jaccard", q41, Some(q41Sql)),
    Q("q42_minhash_lsh", q42, None),
    Q("q43_simhash", q43, None),
    Q("q44_embedding_neardup", q44, Some(q44Sql)),
    Q("q45_semantic_dedup", q45, None),
    Q("q65_neardup_clusters", q65, Some(q65Sql)),
    Q("q95_source_overlap", q95, Some(q95Sql)),
    Q("q101_dedup_agreement", q101, Some(q101Sql)),
    Q("q109_dup_rate_curve", q109, Some(q109Sql)),
    Q("q110_source_similarity", q110, None),
    Q("q113_overlap_sketch", q113, None),
    Q("q132_ngram_containment", q132, Some(q132Sql)),
    Q("q134_dedup_bias", q134, Some(q134Sql)),
    Q("q136_cluster_sizes", q136, Some(q136Sql)),
    Q("q164_dedup_weights", q164, Some(q164Sql)),
    Q("q165_soft_dedup_sample", q165, Some(q165Sql)),
    Q("q167_effective_corpus", q167, Some(q167Sql)),
    Q("q175_source_neardup_matrix", q175, Some(q175Sql)),
    Q("q176_cluster_purity", q176, Some(q176Sql)),
    Q("q178_dup_quality", q178, Some(q178Sql)),
    Q("q138_incremental_dedup", q138, Some(q138Sql)),
    Q("q144_dedup_eval", q144, None),
    Q("q145_index_stats", q145, Some(q145Sql)),
    Q("q146_jaccard_bands", q146, Some(q146Sql)),
    Q("q151_lsh_diagnostics", q151, None),
    Q("q154_dedup_route", q154, None))
}
