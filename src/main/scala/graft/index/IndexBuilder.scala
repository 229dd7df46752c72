package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{CorpusStats, Doc, PostingList, TermStats, Turn}

/** Distributed inverted-index build (SURVEY.md §3.2 Spark equivalent,
  * §4.4, §7.2 steps 4-7).
  *
  * Pipeline — exactly ONE wide shuffle on the hot path (the docId
  * range-repartition), plus one tiny stats shuffle over pre-aggregates:
  *
  *   transcripts
  *     → DocIdAssigner (shuffle #1: range-repartition by (conv_id, turn_idx);
  *       shard = range-partition id ⇒ a contiguous docId range)
  *     → docs/shard=K/  (docId, dl, text … — page-table analog; ONE file
  *       per shard, written by the task that owns the range — no shuffle)
  *     → postings/shard=K/  MAP-ONLY, STRAIGHT FROM DOCS: per-doc term
  *       counts are computed inside the encode task (the reference's own
  *       per-page lemma map, CollectLemmasAction.java:37-45) feeding a
  *       per-shard in-memory inverted buffer (the Lucene segment-flush
  *       design): docs arrive docId-ascending within a shard file, lists
  *       grow per term, chunks flush at the chunk cap / memory budget,
  *       final drain emits term-sorted lists. Earlier revisions
  *       materialized a (docId, term, tf, dl) tf relation between docs
  *       and postings; it was the largest intermediate of the build and
  *       its write+read dominated wall clock at high core counts
  *       (memory-bandwidth-bound) — re-tokenizing in-task is cheaper.
  *       The relation still EXISTS for consumers, derived on the fly
  *       (loadTf).
  *     → manifest-vN.json commit per wave (incl. per-shard sumDl ⇒ exact
  *       avgdl with no extra pass)
  *     → term_stats/    groupBy(term) over the postings table's per-chunk
  *       pre-aggregates (count/maxTf/sumTf): ≤ shards × chunks rows per
  *       term regardless of df, so hot-term reducer skew is structurally
  *       bounded — no salting needed on pre-combined rows.
  *
  * Layout choice: postings are DOCUMENT-RANGE sharded — every shard holds
  * the posting lists of ALL terms restricted to its docId range (the
  * Lucene/ES shard design). AND-intersection and WAND then run fully
  * shard-local with a driver-side top-k merge; no per-query shuffle.
  * Hot terms (`roleuser`-class tokens, df ≈ N — FIXTURES.md §2) split
  * naturally across shards, and any list still longer than
  * `maxChunkPostings` within a shard is chunked so no single blob row is
  * unbounded. The alternative term-hash layout would prune single-term
  * lookups to one partition but makes multi-term intersection a shuffle;
  * term-df lookups here are served by the (tiny, broadcastable) term_stats
  * table instead, and parquet min/max stats on the sorted `term` column
  * skip non-matching row groups inside each shard.
  *
  * Resume (north rule: "checkpointed per partition with lineage +
  * per-partition metrics so a killed run resumes without recomputation"):
  * docs/ and tf/ are stage checkpoints (skipped when `_SUCCESS` exists and
  * the fingerprint matches); posting shards are built in WAVES, with a
  * manifest snapshot committed after each wave — a kill between waves
  * loses at most one wave, and completed shards are never recomputed.
  */
object IndexBuilder {

  val DefaultShards = 32
  /** Max postings per blob row; 2^17 ≈ 130k postings ≈ ~300 KB encoded. */
  val MaxChunkPostings: Int = 1 << 17
  /** Salt fan-out for the two-phase df aggregation (hot-term skew). */
  val DfSalts = 16
  /** In-memory inverted-buffer budget per task (postings) before the
    * largest term list is force-flushed as a chunk — the Lucene-style RAM
    * bound that keeps any shard size safe. */
  val MaxBufferedPostings: Int = 8 << 20

  /** Table roots. Data lives in generation-versioned subdirs
    * (`docs/gen=G/shard=K` …): a fresh build writes generation 0,
    * maintenance writes a NEW generation per commit and the manifest says
    * which (gen, shard) dirs form the current snapshot — see
    * [[IndexSnapshot]]. */
  final case class Paths(root: String) {
    val docs = s"$root/docs"
    val tf = s"$root/tf"
    val termStats = s"$root/term_stats"
    val postings = s"$root/postings"
    def docsGen(g: Long): String = s"$docs/gen=$g"
    def postingsGen(g: Long): String = s"$postings/gen=$g"
    def termStatsGen(g: Long): String = s"$termStats/gen=$g"
  }

  final case class BuiltIndex(root: String, manifest: Manifest) {
    val paths: Paths = Paths(root)
    def stats: CorpusStats =
      CorpusStats(manifest.nDocs, manifest.avgdl, manifest.analyzerVersion)
  }

  /** Thrown by [[build]] when `cancelCheck` fires between waves — the
    * Spark analog of the reference's `GET /api/stopIndexing`
    * (ApiController.java:33-37; stop-flag cascade IndexingServiceImpl
    * .java:113-124, ParseAction.java:245-257). Every wave committed
    * before the cancel stays in the manifest; rerunning `build` resumes
    * without recomputation. */
  final class BuildCancelledException(msg: String) extends RuntimeException(msg)

  private[index] def hasSuccess(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val timing = sys.env.get("GRAFT_BUILD_TIMING").contains("1")
  private def timed[A](stage: String)(f: => A): A = {
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      val a = f
      System.err.println(f"[build-timing] $stage: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      a
    }
  }

  /** Tokenizer column (SURVEY.md §2.8 U2) — native codegen Catalyst
    * expression; token-identical to Analyzer.tokens (TokensExpressionSpec). */
  def tokensCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TokensExpression.tokens(c)

  /** Read `dir` with file-split sizing pinned to the largest file so each
    * task gets EXACTLY one file (shard↔task alignment: no packing of two
    * shard files into one task, no splitting of one file across tasks).
    * Restores the session confs afterwards. At production scale the same
    * alignment falls out of one-multi-GB-file-per-shard plus default
    * split sizes; chunk ordering is firstDocId-based anyway, so alignment
    * is an efficiency matter, not correctness. The confs are
    * session-wide, so callers serialize on [[splitConfLock]]: two
    * maintenance writers in one session interleaving their
    * save/set/restore left one writer's split size pinned for every later
    * read of the session. */
  private[graft] def withOneFilePerTask[A](spark: SparkSession, dir: String)
                                          (f: DataFrame => A): A = splitConfLock.synchronized {
    val (maxFile, _) = parquetLayout(spark, dir)
    val split = (maxFile + 1).toString
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    spark.conf.set("spark.sql.files.openCostInBytes", split)
    try f(spark.read.parquet(dir))
    finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldCost)
    }
  }
  private val splitConfLock = new Object

  /** One recursive listing of `dir` (Hadoop FileSystem API — works on
    * HDFS/S3/local alike; java.nio would throw off-box): the largest
    * .parquet file size, and whether every leaf directory holds AT MOST
    * ONE parquet file — the layout invariant the query engine's
    * shuffle-free shard-aligned scan depends on (one `shard=K` dir ⇒ one
    * file ⇒ one task ⇒ the task sees the WHOLE shard). */
  private[graft] def parquetLayout(spark: SparkSession,
                                   dir: String): (Long, Boolean) = {
    var maxFile = 1L
    var onePerDir = true
    val seen = scala.collection.mutable.HashSet.empty[String]
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        maxFile = math.max(maxFile, st.getLen)
        if (!seen.add(st.getPath.getParent.toString)) onePerDir = false
      }
    }
    (maxFile, onePerDir)
  }

  /** [[parquetLayout]] over an explicit leaf-dir list (manifest-resolved
    * snapshot paths): largest parquet file + one-file-per-dir flag.
    * Missing dirs are skipped (an entry whose shard holds no rows).
    * Listings run on a bounded thread pool — at production shard counts
    * a serial per-dir RPC loop would dominate aligned-scan setup (paid
    * once per snapshot; Spark's own scan listing is parallel too). */
  private[graft] def parquetLayoutPaths(spark: SparkSession,
                                        paths: Seq[String]): (Long, Boolean) = {
    val conf = spark.sparkContext.hadoopConfiguration
    def listOne(dir: String): (Long, Int) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) (1L, 0)
      else {
        var mx = 1L
        var n = 0
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
            mx = math.max(mx, st.getLen)
            n += 1
          }
        }
        (mx, n)
      }
    }
    val results =
      if (paths.size <= 4) paths.map(listOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, paths.size))
        try {
          val futures = paths.map(d =>
            pool.submit(new java.util.concurrent.Callable[(Long, Int)] {
              def call(): (Long, Int) = listOne(d)
            }))
          futures.map(_.get())
        } finally pool.shutdown()
      }
    val maxFile = if (results.isEmpty) 1L else math.max(1L, results.map(_._1).max)
    (maxFile, results.forall(_._2 <= 1))
  }

  /** Per-shard (terms, postings, bytes, sumDl) metrics collected by the
    * encode tasks themselves via an accumulator — saves the post-write
    * read job (a serial overhead locally, a full postings re-scan on a
    * cluster). sumDl (= Σ tf over the shard's postings = Σ dl over its
    * docs) feeds the exact corpus avgdl without any extra pass. */
  final class ShardMetricsAcc
      extends org.apache.spark.util.AccumulatorV2[
        (Int, Long, Long, Long, Long), Map[Int, (Long, Long, Long, Long)]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, (Long, Long, Long, Long)]
    override def isZero: Boolean = m.isEmpty
    override def copy(): ShardMetricsAcc = {
      val c = new ShardMetricsAcc; c.m ++= m; c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, Long, Long, Long, Long)): Unit = {
      val (shard, t, p, b, s) = v
      val (t0, p0, b0, s0) = m.getOrElse(shard, (0L, 0L, 0L, 0L))
      m.update(shard, (t0 + t, p0 + p, b0 + b, s0 + s))
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (Int, Long, Long, Long, Long), Map[Int, (Long, Long, Long, Long)]]): Unit =
      other.value.foreach { case (s, (t, p, b, d)) => add((s, t, p, b, d)) }
    override def value: Map[Int, (Long, Long, Long, Long)] = m.toMap
  }

  /** `cancelCheck` is consulted before every posting wave (the reference's
    * stopIndexing analog): when it returns true the build throws
    * [[BuildCancelledException]] after the last committed manifest
    * snapshot — already-committed waves survive and a rerun resumes. Each
    * wave also runs under a Spark job group (`graft-build-wave-i`) with
    * interruptOnCancel, so an external `cancelJobGroup` stops the running
    * wave's tasks too. */
  def build(spark: SparkSession, turns: Dataset[Turn], root: String,
            shards: Int = DefaultShards, waveSize: Int = 16,
            maxChunkPostings: Int = MaxChunkPostings,
            stem: Boolean = false,
            positions: Boolean = false,
            fields: Boolean = true,
            cancelCheck: () => Boolean = () => false): BuiltIndex = {
    import spark.implicits._
    val P = Paths(root)
    // analyzer variant is a BUILD property, pinned in the manifest; the
    // query path reads it back so build/query can never disagree
    val analyzerVersion = if (stem) Analyzer.StemVersion else Analyzer.Version

    // ---- stage 1: docs (docId assignment), shard = range-partition ----
    // nDocs + fingerprint + shard docId ranges come for free from the
    // assigner's count job on a fresh build; a resume recomputes them from
    // the docs checkpoint (identical hash — DocIdAssigner.rowHash) AND
    // fingerprints the PASSED input to verify the checkpoint matches it —
    // without that, build(spark, newTurns, existingRoot) would silently
    // complete an index over the OLD corpus.
    val (nDocs, fingerprint, shardRanges, shardConvRanges) =
      if (!hasSuccess(spark, P.docsGen(0))) timed("docs") {
        // full-table overwrite: pin static mode explicitly — dynamic mode
        // (left set by maintenance jobs) skips the _SUCCESS marker the
        // checkpoint/resume contract depends on
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        // a fresh docs stage invalidates every downstream checkpoint —
        // leftover tf/term_stats from an aborted earlier run would
        // otherwise be silently reused against the NEW docs
        Seq(P.tf, P.termStats).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        // and so does it every scan plan this process pinned for the root
        // (a deleted-and-rebuilt root reuses snapshot ids, so a memoized
        // plan would list the old build's files)
        graft.query.SearchEngine.disableServingCache(root)
        val (df, st) = DocIdAssigner.assignWithShard(spark, turns, shards)
        // ordering (shard, docId) satisfies the partitioned-write's
        // required ordering, so no extra sort is inserted and file rows
        // stay docId-ascending (the postings pass depends on that)
        df.sortWithinPartitions($"shard", $"docId")
          .write.mode(SaveMode.Overwrite).partitionBy("shard")
          .parquet(P.docsGen(0))
        (st.nDocs, st.fingerprint, st.ranges, st.convRanges)
      } else timed("corpus-stats") {
        val hashUdf = udf((c: String, t: Int, x: String) =>
          DocIdAssigner.rowHash(c, t, x))
        val perShard = spark.read.parquet(P.docsGen(0))
          .select($"shard", $"docId", $"conv_id",
            hashUdf($"conv_id", $"turn_idx", $"text").as("h"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"),
            min($"docId").as("lo"), max($"docId").as("hi"),
            min($"conv_id").as("cLo"), max($"conv_id").as("cHi"))
          .collect()
        val n = perShard.map(_.getLong(1)).sum
        val fp = perShard.map(_.getLong(2)).foldLeft(0L)(_ ^ _)
        val ranges = perShard.map(r =>
          r.getInt(0) -> (r.getLong(3), r.getLong(4))).toMap
        val convRanges = perShard.map(r =>
          r.getInt(0) -> (r.getString(5), r.getString(6))).toMap
        val docsFp = s"$n-$fp"
        // guard: the checkpoint must describe THIS input
        val inputFp = {
          val p = turns.mapPartitions { it =>
            var c = 0L; var h = 0L
            while (it.hasNext) {
              val t = it.next(); c += 1
              h ^= DocIdAssigner.rowHash(t.conv_id, t.turn_idx, t.text)
            }
            Iterator((c, h))
          }.collect()
          s"${p.map(_._1).sum}-${p.map(_._2).foldLeft(0L)(_ ^ _)}"
        }
        if (inputFp != docsFp)
          throw new IllegalStateException(
            s"docs checkpoint at ${P.docs} was built from DIFFERENT input " +
            s"(checkpoint $docsFp vs input $inputFp); use a fresh root")
        (n, docsFp, ranges, convRanges)
      }

    // resume check: same input already fully indexed → no-op (term_stats
    // presence required too — it commits after the last wave)
    IndexManifest.read(root) match {
      case Some(m) if m.inputFingerprint == fingerprint &&
          m.analyzerVersion == analyzerVersion &&
          m.positions == positions &&
          m.fields == fields &&
          m.completedShards.size >= shards &&
          hasSuccess(spark, P.termStatsGen(0)) =>
        return BuiltIndex(root, m)
      case Some(m) if m.inputFingerprint != fingerprint ||
          m.analyzerVersion != analyzerVersion ||
          m.positions != positions ||
          m.fields != fields =>
        // input, analyzer or posting format changed → stale checkpoints
        // are invalid (a resume must not mix formats across waves)
        throw new IllegalStateException(
          s"index at $root was built from different input/analyzer/format " +
          s"(${m.inputFingerprint}/${m.analyzerVersion}/pos=${m.positions}" +
          s"/fields=${m.fields} " +
          s"vs $fingerprint/$analyzerVersion/pos=$positions/fields=$fields); " +
          "use a fresh root")
      case _ => ()
    }

    // ---- stage 2: posting shards, in resumable waves — STRAIGHT FROM
    // DOCS. The r01 pipeline materialized a (docId, term, tf, dl, shard)
    // tf table between docs and postings; that table was the largest
    // intermediate of the whole build (one row per distinct term per doc)
    // and its write+read dominated the wall clock at high core counts
    // (the stages are memory-bandwidth-bound on this host — see
    // BENCH/BASELINE.md calibration). Tokenizing again inside the encode
    // task trades one cheap CPU pass for the whole round trip. ----------
    val done = IndexManifest.read(root).map(_.completedShards).getOrElse(Set.empty)
    val missing = (0 until shards).filterNot(done).toVector
    var manifest = IndexManifest.read(root).getOrElse(
      Manifest(0L, analyzerVersion, fingerprint, nDocs, 0.0, Nil,
        positions = positions, fields = fields))
    // The FIRST wave of a fresh build can use the cheap static commit
    // (nothing to preserve); every later wave — and any resume — must use
    // dynamic partition overwrite so only the touched shard partitions
    // are rewritten and committed work (incl. stale partial dirs from a
    // killed run) is handled correctly.
    var firstFreshWave = done.isEmpty

    missing.grouped(math.max(1, waveSize)).zipWithIndex.foreach { case (wave, wi) =>
      if (cancelCheck())
        throw new BuildCancelledException(
          s"build at $root cancelled before wave $wi " +
          s"(${manifest.completedShards.size}/$shards shards committed); " +
          "rerun build to resume from the last manifest snapshot")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        if (firstFreshWave) "static" else "dynamic")
      firstFreshWave = false
      val waveSet = wave.toSet
      val acc = new ShardMetricsAcc
      spark.sparkContext.register(acc, "shardMetrics")
      spark.sparkContext.setJobGroup(s"graft-build-wave-$wi",
        s"graft index build $root wave $wi", interruptOnCancel = true)
      try timed(s"postings-wave") {
        withOneFilePerTask(spark, P.docsGen(0)) { docsAll =>
          val fieldCols =
            if (fields) Seq($"role", $"tool") else Nil
          val waveDocs = docsAll.filter($"shard".isin(wave: _*))
            .select(Seq($"docId", $"dl", $"shard", $"text") ++ fieldCols: _*)
          val doStem = stem
          val withPos = positions
          val withFields = fields
          val encoded = waveDocs.mapPartitions { rows =>
            invertDocsPartition(rows, doStem, maxChunkPostings,
              MaxBufferedPostings, withPos, withFields).map { pl =>
              acc.add(shardMetrics(pl))
              pl
            }
          }
          encoded.write.mode(SaveMode.Overwrite)
            .partitionBy("shard").parquet(P.postingsGen(0))
        }
      } finally spark.sparkContext.clearJobGroup()

      // per-shard metrics (terms, postings, bytes, sumDl) + lineage for
      // the manifest, collected by the encode tasks (accumulator — no
      // re-read job). Caveat: accumulator updates from retried tasks can
      // double-count; acceptable for metrics (Spark's own convention),
      // and impossible in the deterministic local runs the gate uses.
      def rangeOf(s: Int): (Long, Long) = shardRanges.getOrElse(s, (-1L, -1L))
      def convOf(s: Int): (Option[String], Option[String]) =
        shardConvRanges.get(s) match {
          case Some((lo, hi)) => (Some(lo), Some(hi))
          case None => (None, None)
        }
      val metrics = acc.value.toSeq.map { case (s, (t, p, b, d)) =>
        ShardEntry(s, t, p, b, Seq(s), rangeOf(s)._1, rangeOf(s)._2, d,
          minConv = convOf(s)._1, maxConv = convOf(s)._2)
      }
      val covered = metrics.map(_.shard).toSet
      // shards with zero postings still count as completed
      val empty = waveSet.diff(covered).map(s =>
        ShardEntry(s, 0L, 0L, 0L, Seq(s), rangeOf(s)._1, rangeOf(s)._2, 0L,
          minConv = convOf(s)._1, maxConv = convOf(s)._2))
      val newShards = manifest.shards ++ metrics ++ empty
      // exact avgdl over the COMPLETED shards (Σ per-shard sumDl = Σ dl);
      // equals the global avgdl once the last wave commits
      manifest = manifest.copy(
        snapshotId = manifest.snapshotId + 1,
        sumDl = newShards.map(_.sumDl).sum,
        avgdl = newShards.map(_.sumDl).sum.toDouble / math.max(1L, nDocs),
        shards = newShards)
      IndexManifest.commit(root, manifest)
    }

    // ---- stage 3: term stats, derived from the POSTINGS table ---------
    // df/maxTf/sumTf aggregate over per-chunk PRE-AGGREGATES (≤ shards ×
    // chunks rows per term, not one row per posting), so hot-term reducer
    // skew is structurally bounded and the r01 salted two-phase agg is no
    // longer needed on this path. Reads ~compressed-postings bytes, not
    // the raw tf relation.
    if (!hasSuccess(spark, P.termStatsGen(0))) timed("term-stats") {
      termStatsAgg(spark.read.parquet(P.postingsGen(0)))
        .write.mode(SaveMode.Overwrite).parquet(P.termStatsGen(0))
    }

    // ---- finalize: EXACT avgdl from term_stats -------------------------
    // The per-wave manifest avgdl derives from ShardMetricsAcc, and
    // accumulator updates from retried/speculative tasks double-count on
    // real clusters (fine for progress metrics, not for a BM25 scoring
    // input). Recompute avgdl exactly from the written term_stats
    // (Σ sumTf == Σ dl — a set-based aggregate, retry-safe) and commit a
    // finalizing snapshot IF it differs. Deterministic local runs have no
    // retries, so the values match and no extra snapshot is committed.
    val sumRow = IndexSnapshot.readTermStats(spark, P.termStatsGen(0))
      .agg(sum($"sumTf")).head()
    val exactSumDl = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
    val exactAvgdl = exactSumDl.toDouble / math.max(1L, nDocs)
    if (manifest.avgdl != exactAvgdl || manifest.sumDl != exactSumDl) {
      manifest = manifest.copy(snapshotId = manifest.snapshotId + 1,
        sumDl = exactSumDl, avgdl = exactAvgdl)
      IndexManifest.commit(root, manifest)
    }

    BuiltIndex(root, manifest)
  }

  /** Per-shard in-memory inverted buffer (Lucene segment-flush model;
    * SURVEY.md §2.4 A3): consumes (docId, term, tf, dl, shard) rows in
    * ascending-docId order within each shard (docs/tf file order — no
    * sort, no shuffle), grows one list per term, and flushes a chunk when
    * a list hits `maxChunk` or total buffered postings exceed `budget`
    * (largest list first). Memory is therefore bounded regardless of
    * shard size. The final drain emits remaining lists term-sorted so
    * parquet row-group min/max stats on `term` stay tight. Chunks of one
    * (shard, term) concatenate in chunk-ordinal (== firstDocId) order. */
  def invertPartition(rows: Iterator[org.apache.spark.sql.Row],
                      maxChunk: Int, budget: Int): Iterator[PostingList] =
    invertTuples(rows.map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
        null: Array[Int])),
      maxChunk, budget, withPos = false)

  /** As [[invertPartition]], but consuming DOC rows (docId, dl, shard,
    * text) directly: per-doc term counts are computed in-task (term-sorted
    * for determinism) — no materialized tf relation between docs and
    * postings. Input must be docId-ascending within each shard (docs file
    * order). `positions = true` additionally records each term's token
    * ordinals in the ANALYZED stream (the r6 positional format rev; what
    * a query-time re-tokenize of the doc would yield, ordinal-identical
    * because stemming is 1:1 per token). */
  /** The term-dictionary aggregation over a postings frame — ONE
    * definition shared by the build's stage 3, maintenance's full
    * recompute and fsck's deep check, so the field-term exclusion can
    * never drift: typed-field postings (the reserved \u0000 namespace,
    * r7) are INVISIBLE to the dictionary — they carry no BM25 weight, no
    * df the stop cap could see, and no term an expansion
    * (prefix/fuzzy/wildcard) could surface. */
  /** Shard-metric contribution of one encoded posting list: (shard,
    * terms, postings, bytes, sumTf). Typed-field lists (the reserved
    * namespace) contribute BYTES ONLY — the manifest's terms/postings/
    * sumTf metrics describe the TEXT index, the same contract as the
    * dictionary ([[termStatsAgg]]) and the avgdl identity. ONE definition
    * for the build wave and both maintenance rewrites so the exclusion
    * can't drift. */
  def shardMetrics(pl: graft.model.PostingList): (Int, Long, Long, Long, Long) = {
    val field = Analyzer.isFieldTerm(pl.term)
    (pl.shard,
      if (pl.chunk == 0 && !field) 1L else 0L,
      if (field) 0L else pl.count,
      pl.docIds.length.toLong + pl.tfs.length + pl.dls.length +
        (if (pl.positions != null) pl.positions.length.toLong else 0L),
      pl.sumTf)
  }

  def termStatsAgg(postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    postings
      .filter(!col("term").startsWith(Analyzer.FieldMarker))
      .groupBy(col("term"))
      .agg(sum(col("count")).as("df"), max(col("maxTf")).as("maxTf"),
        sum(col("sumTf")).as("sumTf"))
      .select(col("term"), col("df"), col("maxTf").cast("int").as("maxTf"),
        col("sumTf"))
  }

  def invertDocsPartition(rows: Iterator[org.apache.spark.sql.Row],
                          stem: Boolean, maxChunk: Int,
                          budget: Int,
                          positions: Boolean = false,
                          fields: Boolean = false): Iterator[PostingList] = {
    // typed-field postings (r7): one tf=1 posting per non-empty keyword
    // field value, in the reserved namespace. Emitted BEFORE the text
    // terms so per-(shard, term) docId order is preserved either way
    // (each docId contributes each term at most once). Positional
    // indexes give them a single ordinal 0 — the codec requires
    // positions.length == tf, and no phrase/NEAR walk can ever name a
    // field term (the planner can't produce the marker).
    def fieldTuples(docId: Long, dl: Int, shard: Int,
                    r: org.apache.spark.sql.Row)
        : Iterator[(Long, String, Int, Int, Int, Array[Int])] =
      // dl == 0 docs emit NO field postings: a token-less doc can never
      // be a candidate of any query mode (filters only restrict text
      // queries), so its field postings would be unreachable — and
      // skipping them preserves the zero-posting-shard invariant
      // (postings == 0 ⇔ no posting rows, MaintenanceSpec)
      if (!fields || dl == 0) Iterator.empty
      else Iterator(("role", 4), ("tool", 5)).flatMap { case (f, i) =>
        val v = if (r.isNullAt(i)) "" else r.getString(i)
        val t = Analyzer.fieldTerm(f, v)
        if (t.endsWith(Analyzer.FieldMarker)) None // empty value: no posting
        else Some((docId, t, 1, dl, shard,
          if (positions) Array(0) else null))
      }
    val expanded = rows.flatMap { r =>
      val docId = r.getLong(0)
      val dl = r.getInt(1)
      val shard = r.getInt(2)
      val toks0 = Analyzer.tokens(r.getString(3))
      val toks = if (stem) toks0.map(graft.analysis.Stemmer.stem) else toks0
      if (!positions) {
        val counts = new java.util.TreeMap[String, Integer]()
        toks.foreach { t =>
          val c = counts.get(t)
          counts.put(t, if (c == null) 1 else c + 1)
        }
        val out = new Array[(Long, String, Int, Int, Int, Array[Int])](counts.size)
        var i = 0
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(i) = (docId, e.getKey, e.getValue, dl, shard, null)
          i += 1
        }
        fieldTuples(docId, dl, shard, r) ++ out.iterator
      } else {
        // per-term ascending ordinals (unboxed builders; transient per doc)
        val posByTerm =
          new java.util.TreeMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
        var ord = 0
        toks.foreach { t =>
          var b = posByTerm.get(t)
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuilder.ofInt
            posByTerm.put(t, b)
          }
          b += ord
          ord += 1
        }
        val out =
          new Array[(Long, String, Int, Int, Int, Array[Int])](posByTerm.size)
        var i = 0
        val it = posByTerm.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val ps = e.getValue.result()
          out(i) = (docId, e.getKey, ps.length, dl, shard, ps)
          i += 1
        }
        fieldTuples(docId, dl, shard, r) ++ out.iterator
      }
    }
    invertTuples(expanded, maxChunk, budget, withPos = positions)
  }

  private def invertTuples(rows: Iterator[(Long, String, Int, Int, Int, Array[Int])],
                           maxChunk: Int, budget: Int,
                           withPos: Boolean): Iterator[PostingList] = {
    // PRIMITIVE growable buffers: a boxed ArrayBuffer[Long/Int] costs
    // ~20× the bytes (16 B object header + 8 B ref per element) and turns
    // the long-lived buffers into millions of GC-scanned objects — at 32
    // concurrent tasks that was >10 GB of live boxed heap and made the
    // postings stage SLOWER at local[32] than at local[8]. Three parallel
    // primitive arrays hold the same data in n×16 bytes with zero objects
    // beyond the arrays themselves.
    final class Buf(val shard: Int) {
      var docs = new Array[Long](16)
      var tfs = new Array[Int](16)
      var dls = new Array[Int](16)
      var n = 0
      var chunk = 0
      // flat position buffer (posting i's ordinals are the tfs(i) values
      // after posting i-1's — same primitive-array rationale as above; an
      // Array[Array[Int]] would cost an object header per posting)
      var pos: Array[Int] = if (withPos) new Array[Int](32) else null
      var posN = 0
      // budget units charged for this buf's live contents (r6 review: a
      // posting with tf=10000 buffers ~40 KB of position ints — charging
      // it 1 unit like a positions-free posting would let a positional
      // build blow past the memory bound MaxBufferedPostings exists to
      // enforce). One unit ≈ one posting's fixed 16 B; a position int is
      // 4 B, so positions charge length/4 (floor — the fixed +1 per
      // posting covers the remainder). flush() credits back exactly
      // what was charged, so the global counter cannot drift.
      var charged = 0L
      def add(d: Long, t: Int, l: Int, ps: Array[Int]): Unit = {
        if (n == docs.length) {
          val m = n << 1
          docs = java.util.Arrays.copyOf(docs, m)
          tfs = java.util.Arrays.copyOf(tfs, m)
          dls = java.util.Arrays.copyOf(dls, m)
        }
        docs(n) = d; tfs(n) = t; dls(n) = l; n += 1
        if (withPos) {
          if (posN + ps.length > pos.length)
            pos = java.util.Arrays.copyOf(pos,
              math.max(pos.length << 1, posN + ps.length))
          System.arraycopy(ps, 0, pos, posN, ps.length)
          posN += ps.length
        }
      }
    }
    val bufs = scala.collection.mutable.HashMap.empty[(Int, String), Buf]
    var totalBuffered = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[PostingList]

    def flush(key: (Int, String), b: Buf): Unit = {
      val ds = java.util.Arrays.copyOf(b.docs, b.n)
      val ts = java.util.Arrays.copyOf(b.tfs, b.n)
      val dl = java.util.Arrays.copyOf(b.dls, b.n)
      // re-slice the flat position buffer into encodeBlocked's per-posting
      // shape (transient — lives only for this flush)
      val psArr: Array[Array[Int]] =
        if (!withPos) null
        else {
          val a = new Array[Array[Int]](b.n)
          var off = 0
          var i = 0
          while (i < b.n) {
            a(i) = java.util.Arrays.copyOfRange(b.pos, off, off + ts(i))
            off += ts(i)
            i += 1
          }
          a
        }
      val enc = PostingCodec.encodeBlocked(ds, ts, dl, positions = psArr)
      // field postings carry sumTf = 0: Σ sumTf over TEXT postings is the
      // exact Σ dl identity the corpus stats (avgdl) derive from — field
      // lists are weightless everywhere (dictionary excludes them too,
      // see termStatsAgg)
      var sumTf = 0L
      if (!Analyzer.isFieldTerm(key._2)) {
        var si = 0
        while (si < ts.length) { sumTf += ts(si); si += 1 }
      }
      out += PostingList(b.shard, key._2, b.chunk, ds.length.toLong,
        if (ts.isEmpty) 0 else ts.max, sumTf,
        enc.docBytes, enc.tfBytes, enc.dlBytes,
        enc.blockFirst, enc.docOff, enc.tfOff, enc.dlOff,
        enc.blockMaxTf, enc.blockMinDl,
        enc.posBytes, enc.posOff)
      totalBuffered -= b.charged
      b.charged = 0L
      b.n = 0
      b.posN = 0
      // shrink so a one-off giant list doesn't pin its peak capacity
      if (b.docs.length > 1024) {
        b.docs = new Array[Long](16); b.tfs = new Array[Int](16)
        b.dls = new Array[Int](16)
        if (withPos) b.pos = new Array[Int](32)
      }
      b.chunk += 1
    }

    rows.foreach { case (docId, term, tf, dl, shard, ps) =>
      val key = (shard, term)
      val b = bufs.getOrElseUpdate(key, new Buf(shard))
      b.add(docId, tf, dl, ps)
      val units = 1L + (if (withPos) (ps.length >> 2).toLong else 0L)
      b.charged += units
      totalBuffered += units
      if (b.n >= maxChunk) flush(key, b)
      else if (totalBuffered > budget) {
        // Amortized overflow policy: one O(V log V) pass flushes the
        // largest lists until usage drops to budget/2, so the scan cost
        // is paid once per budget/2 insertions — not per row (the old
        // maxBy-per-row policy was O(V) on EVERY row once the budget was
        // reached, quadratic at production shard sizes).
        val bySize = bufs.toArray.sortBy(-_._2.charged) // largest MEMORY first
        var i = 0
        while (totalBuffered > budget / 2 && i < bySize.length) {
          val (k, big) = bySize(i)
          if (big.n > 0) flush(k, big)
          i += 1
        }
      }
    }
    // final drain, term-sorted within shard
    bufs.toSeq.sortBy(_._1).foreach { case (k, b) =>
      if (b.n > 0) flush(k, b)
    }
    out.iterator
  }

  /** Typed readers over a built index. Manifest-resolved ([[IndexSnapshot]]):
    * each call pins the LATEST committed snapshot — uncommitted / orphan
    * generation dirs are invisible. The no-manifest fallback (generation-0
    * raw dirs) serves mid-build internals and tests only. */
  def loadTermStats(spark: SparkSession, root: String): Dataset[TermStats] = {
    import spark.implicits._
    (IndexManifest.read(root) match {
      case Some(m) => IndexSnapshot.termStats(spark, root, m)
      case None => IndexSnapshot.readTermStats(spark, Paths(root).termStatsGen(0))
    }).select($"term", $"df", $"maxTf").as[TermStats]
  }
  def loadDocs(spark: SparkSession, root: String): Dataset[Doc] = {
    import spark.implicits._
    (IndexManifest.read(root) match {
      case Some(m) => IndexSnapshot.docs(spark, root, m)
      case None => spark.read.parquet(Paths(root).docsGen(0))
    }).as[Doc]
  }
  def loadPostings(spark: SparkSession, root: String): DataFrame =
    IndexManifest.read(root) match {
      case Some(m) => IndexSnapshot.postings(spark, root, m)
      case None => spark.read.parquet(Paths(root).postingsGen(0))
    }
  /** The (docId, term, tf, dl, shard) relation, DERIVED from docs on the
    * fly (term counts computed in-row; analyzer variant from the
    * manifest). The build no longer materializes it — it existed only as
    * an intermediate, and consumers (the naive query path, tests) want
    * the relation, not a table. */
  def loadTf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val stem = IndexManifest.read(root)
      .exists(_.analyzerVersion == Analyzer.StemVersion)
    loadDocs(spark, root).toDF()
      .select($"docId", $"dl", $"shard",
        explode(graft.functions.TermCountsExpression.termCountsCol($"text", stem)).as("tc"))
      .select($"docId", $"tc.term".as("term"), $"tc.tf".as("tf"),
        $"dl", $"shard")
  }
}
