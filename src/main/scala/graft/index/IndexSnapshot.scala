package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Manifest-resolved reads over a snapshot of the index (SURVEY.md §7.6).
  *
  * Data dirs are generation-versioned and IMMUTABLE once a manifest
  * references them: shard K's rows live at `docs/gen=G/shard=K` /
  * `postings/gen=G/shard=K` where G is the ShardEntry's `gen`, and the
  * dictionary at `term_stats/gen=S` where S is the manifest's `statsGen`.
  * Readers list ONLY the leaf dirs the pinned manifest names — an
  * in-flight maintenance job's freshly-written (but uncommitted) dirs are
  * invisible, and a crashed job's orphan dirs can never be read or
  * double-assign docIds (VERDICT r03 item 1 + ADVICE r03 item 1). The
  * resulting read is ONE Spark scan regardless of how many generations a
  * snapshot spans (`basePath` keeps `shard` a partition column; the
  * helper `gen` column is dropped).
  *
  * This is the Iceberg file-manifest design at dir granularity: commit =
  * atomic manifest rename; old generations are retained for a grace
  * period (readers that pinned the previous snapshot keep working) and
  * reclaimed by [[expireSnapshots]] — the analog of Iceberg's
  * expire_snapshots, replacing the reference's global RW lock
  * (LockGenerator.java:10-23) with lock-free snapshot isolation.
  *
  * DICTIONARY: [[dictionary]] keeps each term_stats generation resident
  * on the driver (sorted term/df/maxTf arrays, loaded once with one
  * known-schema read), memoized by generation and build identity and
  * bounded by entry count and a resident-size cap, so query planning
  * runs no Spark job (Lucene's in-memory terms index). Every term_stats
  * read uses the table's known schema, so none runs Spark's
  * schema-inference job.
  *
  * FORMAT NOTE: the generation layout is this engine's on-disk format;
  * an index written by the pre-snapshot flat layout (`docs/shard=K`
  * directly) is not readable and must be rebuilt — a deliberate pre-1.0
  * format break, preferred over carrying a dual-layout reader whose
  * legacy half could never be snapshot-isolated.
  */
object IndexSnapshot {

  private def docsDir(root: String, e: ShardEntry): String =
    s"${IndexBuilder.Paths(root).docs}/gen=${e.gen}/shard=${e.shard}"

  /** Leaf dirs that may hold the snapshot's doc rows
    * ([[ShardEntry.holdsDocs]]). */
  def docsPaths(root: String, m: Manifest): Seq[String] =
    m.shards.filter(_.holdsDocs).map(docsDir(root, _))

  /** [[docsPaths]] that exist. A stamped entry's dir exists by the
    * writers' rule, so only the dirs of entries without a docId range are
    * probed (one `exists` each): a stamped manifest pays nothing. */
  private def presentDocsPaths(spark: SparkSession, root: String,
                               m: Manifest): Seq[String] = {
    lazy val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.shards.filter(e => e.holdsDocs &&
        (e.minDocId >= 0 || fs.exists(new org.apache.hadoop.fs.Path(docsDir(root, e)))))
      .map(docsDir(root, _))
  }

  /** Leaf dirs holding the snapshot's posting rows (entry.postings > 0 ⇔
    * the encode pass emitted rows ⇔ the dir exists). */
  def postingsPaths(root: String, m: Manifest): Seq[String] =
    m.shards.filter(_.postings > 0)
      .map(e => s"${IndexBuilder.Paths(root).postings}/gen=${e.gen}/shard=${e.shard}")

  def termStatsPath(root: String, m: Manifest): String =
    s"${IndexBuilder.Paths(root).termStats}/gen=${m.statsGen}"

  /** Schema of docs read back from parquet (file columns + the `shard`
    * partition column) — used when a snapshot has zero non-empty shards. */
  private val docsSchema: StructType = StructType(Seq(
    StructField("docId", LongType), StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType), StructField("role", StringType),
    StructField("text", StringType), StructField("tool", StringType),
    StructField("dl", IntegerType), StructField("shard", IntegerType)))

  /** Schema of postings read back from parquet (every writer writes the
    * `PostingList` columns; `positions`/`posOff` are null on a
    * positions-free index). */
  private[graft] val postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("chunk", IntegerType),
    StructField("count", LongType), StructField("maxTf", IntegerType),
    StructField("sumTf", LongType), StructField("docIds", BinaryType),
    StructField("tfs", BinaryType), StructField("dls", BinaryType),
    StructField("blockFirst", ArrayType(LongType)),
    StructField("docOff", ArrayType(IntegerType)),
    StructField("tfOff", ArrayType(IntegerType)),
    StructField("dlOff", ArrayType(IntegerType)),
    StructField("blockMaxTf", ArrayType(IntegerType)),
    StructField("blockMinDl", ArrayType(IntegerType)),
    StructField("positions", BinaryType),
    StructField("posOff", ArrayType(IntegerType)),
    StructField("shard", IntegerType)))

  private val termStatsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("maxTf", IntegerType), StructField("sumTf", LongType)))

  /** The doc columns a hit lookup reads (snippets + doc key). */
  private[graft] val HitLookupSchema: StructType = StructType(Seq(
    StructField("docId", LongType), StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType), StructField("text", StringType)))

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  /** One scan over `paths`. With a `known` file schema the read skips
    * Spark's parquet schema inference (a one-task job per read). */
  private def readLeafDirs(spark: SparkSession, basePath: String,
                           paths: Seq[String], emptySchema: StructType,
                           known: Option[StructType] = None): DataFrame =
    if (paths.isEmpty) empty(spark, emptySchema)
    else known.fold(spark.read)(spark.read.schema)
      .option("basePath", basePath).parquet(paths: _*).drop("gen")

  /** The snapshot's docs relation (one scan; `shard` partition column
    * preserved, `gen` dropped). */
  def docs(spark: SparkSession, root: String, m: Manifest): DataFrame =
    readLeafDirs(spark, IndexBuilder.Paths(root).docs,
      presentDocsPaths(spark, root, m), docsSchema)

  /** Docs restricted to a shard subset — lists only those leaf dirs.
    * `schema` (e.g. [[HitLookupSchema]]) reads just those file columns
    * with no schema-inference job. */
  def docsFor(spark: SparkSession, root: String, m: Manifest,
              shards: Seq[Int], schema: Option[StructType] = None): DataFrame = {
    val want = shards.toSet
    val sub = m.copy(shards = m.shards.filter(e => want(e.shard)))
    readLeafDirs(spark, IndexBuilder.Paths(root).docs,
      presentDocsPaths(spark, root, sub), docsSchema, schema)
  }

  def postings(spark: SparkSession, root: String, m: Manifest): DataFrame =
    readLeafDirs(spark, IndexBuilder.Paths(root).postings,
      postingsPaths(root, m), postingsSchema)

  /** Postings over an explicit (prospective) entry list — used by
    * maintenance to aggregate term stats for a snapshot it has not
    * committed yet. */
  def postingsOf(spark: SparkSession, root: String,
                 entries: Seq[ShardEntry]): DataFrame =
    postings(spark, root,
      Manifest(0L, "", "", 0L, 0.0, entries))

  // term_stats generation dirs are immutable once referenced, so the
  // existence probe (a recursive listing) memoizes per (root, statsGen) —
  // without this every uncached query's plan() pays one listing RPC
  // (same class as the manifest-resolution fix, VERDICT r04 item 1).
  // Only a POSITIVE probe memoizes: an in-flight maintenance op may ask
  // about its not-yet-written generation and then write it.
  private val termStatsPresent = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Boolean]

  def termStats(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    val p = termStatsPath(root, m)
    val key = (root, m.statsGen)
    val present = termStatsPresent.get(key) match {
      case Some(v) => v
      case None =>
        val v = hasParquetFiles(spark, p)
        if (v) {
          if (termStatsPresent.size > 4096) termStatsPresent.clear() // bound
          termStatsPresent.put(key, v)
        }
        v
    }
    if (present) readTermStats(spark, p)
    else empty(spark, termStatsSchema) // degenerate all-empty snapshot
  }

  /** One term_stats generation dir, read with its known schema: no
    * schema-inference job. */
  private[index] def readTermStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(termStatsSchema).parquet(dir)

  /** A term_stats generation resident on the driver: `terms` sorted
    * (String order), `df`/`maxTf` aligned with it. Rows with df = 0 (an
    * appended-then-deleted term) stay, exactly as the table holds them. */
  final class TermDictionary private[index] (val terms: Array[String],
                                             val df: Array[Long],
                                             val maxTf: Array[Int]) {
    /** Index of `t`, or -1. */
    def indexOf(t: String): Int = {
      val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
      if (i >= 0) i else -1
    }

    /** The index range [lo, hi) of the terms starting with `prefix` (all
      * of them for ""): in sorted order they are one contiguous run. */
    def prefixRange(prefix: String): (Int, Int) = {
      def firstFrom(from: Int)(past: String => Boolean): Int = {
        var lo = from
        var hi = terms.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (past(terms(mid))) hi = mid else lo = mid + 1
        }
        lo
      }
      val lo = firstFrom(0)(_.compareTo(prefix) >= 0)
      (lo, firstFrom(lo)(t => !t.startsWith(prefix)))
    }
  }

  // The dictionary memo (Lucene keeps its terms index in memory): each
  // term_stats generation loads ONCE — one known-schema read, one job —
  // into a [[TermDictionary]]; queries then plan with binary searches and
  // no Spark job. A generation dir is immutable once a manifest references
  // it, so the key is the generation plus the manifest fields that
  // identify the build (a root deleted and rebuilt from another corpus or
  // with another analyzer gets a fresh entry, never a stale one).
  // Compaction reuses `statsGen` and the fingerprint, so it keeps its
  // entry. Only a COMPLETE generation (its `_SUCCESS` marker, the
  // build's own checkpoint rule) memoizes: a build commits a manifest
  // after every wave but writes its term_stats generation after the last
  // one, so a query on a partly built root sees no files, or a half
  // committed write, under the key the finished build publishes (the same
  // reason [[termStats]] memoizes only a positive probe). Bounded two
  // ways: at most [[DictionaryMemoEntries]] entries (access-order LRU),
  // and a generation whose estimated resident size exceeds
  // [[dictionaryCap]] is not loaded — callers keep probing the table
  // with a pushdown filter instead.
  private val DictionaryMemoEntries = 4
  /** Resident-size estimate per on-disk byte of a term_stats generation,
    * with headroom. Measured at ONE size only: a 5,021-term generation of
    * 40.5 KB parquet held 433 KB of driver heap (~11×). The ratio for
    * large vocabularies is unverified, and no benchmark workload comes
    * near the cap. The estimate has to come from file sizes because the
    * cap decides before the load, without a job. */
  private val DictionaryBytesPerFileByte = 16L
  /** test hook: force the above-cap probe (Some(0)) or another cap */
  @volatile private[graft] var dictionaryCapOverride: Option[Long] = None
  private def dictionaryCap: Long =
    dictionaryCapOverride.getOrElse(Runtime.getRuntime.maxMemory / 32)

  // value: the dictionary and its generation's parquet bytes
  private val dictionaries =
    new java.util.LinkedHashMap[(String, Long, String, String), (TermDictionary, Long)](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, Long, String, String), (TermDictionary, Long)]): Boolean =
        size() > DictionaryMemoEntries
    }

  /** The snapshot's term dictionary, memoized per generation; None when
    * the generation is above the resident-size cap or not complete yet
    * (probe the table via [[termStats]] instead). The first call per
    * generation runs one job. */
  def dictionary(spark: SparkSession, root: String, m: Manifest): Option[TermDictionary] = {
    val key = (root, m.statsGen, m.inputFingerprint, m.analyzerVersion)
    def fits(fileBytes: Long) = fileBytes * DictionaryBytesPerFileByte <= dictionaryCap
    dictionaries.synchronized(Option(dictionaries.get(key))) match {
      case Some((d, fileBytes)) => Some(d).filter(_ => fits(fileBytes))
      case None =>
        val dir = termStatsPath(root, m)
        val fileBytes = if (IndexBuilder.hasSuccess(spark, dir)) parquetBytes(spark, dir) else -1L
        if (fileBytes < 0L || !fits(fileBytes)) None // unfinished or too big: not memoized
        else {
          val d = if (fileBytes == 0L) new TermDictionary(Array.empty, Array.empty, Array.empty)
                  else loadDictionary(spark, root, m)
          dictionaries.synchronized(dictionaries.put(key, (d, fileBytes)))
          Some(d)
        }
    }
  }

  private def loadDictionary(spark: SparkSession, root: String,
                             m: Manifest): TermDictionary = {
    val rows = readTermStats(spark, termStatsPath(root, m)).select("term", "df", "maxTf").collect()
      .sortBy(_.getString(0))
    new TermDictionary(rows.map(_.getString(0)), rows.map(_.getLong(1)),
      rows.map(_.getInt(2)))
  }

  /** Total bytes of the parquet files under `dir` (0 when absent). */
  private def parquetBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) n += st.getLen
    }
    n
  }

  /** true ⇔ `dir` exists and holds ≥1 parquet file (recursively). */
  private[index] def hasParquetFiles(spark: SparkSession, dir: String): Boolean =
    parquetBytes(spark, dir) > 0L

  /** Default age an UNREFERENCED (orphan / possibly in-flight) dir must
    * reach before the sweep may reclaim it — long enough that no live
    * maintenance attempt's uncommitted generation is at risk. Overridable
    * via GRAFT_ORPHAN_GRACE_MS. */
  val DefaultOrphanGraceMs: Long = 6L * 3600 * 1000
  private def orphanGraceMs: Long =
    sys.env.get("GRAFT_ORPHAN_GRACE_MS").map(_.toLong)
      .getOrElse(DefaultOrphanGraceMs)

  /** Reclaim storage: delete generation dirs (and manifest files) not
    * referenced by the newest `keepLast` snapshots. Maintenance calls
    * this with the default 2 after each commit, so the PREVIOUS
    * snapshot's files always survive one full maintenance cycle — an
    * uncached reader that pinned the pre-commit manifest finishes its
    * scan untouched (the grace period). Long-running readers spanning
    * several maintenance commits need a higher retention, exactly like
    * Iceberg's expire_snapshots contract.
    *
    * Two reclamation classes, distinguished deliberately:
    *  - dirs referenced by an EXPIRING manifest — superseded committed
    *    data, deleted immediately (no in-flight writer can own them:
    *    generations are unique per attempt and these were committed);
    *  - dirs referenced by NO manifest at all — either a crashed
    *    attempt's orphans or a CONCURRENT attempt's in-flight writes;
    *    deleted only once older than the orphan grace age (Iceberg's
    *    remove_orphan_files rule), so a racing writer is never swept. */
  def expireSnapshots(spark: SparkSession, root: String,
                      keepLast: Int = 2): Unit = {
    val vs = IndexManifest.versions(root)
    if (vs.isEmpty) return
    val keepVs = vs.takeRight(math.max(1, keepLast))
    val all = vs.map(v => IndexManifest.readVersion(root, v))
    val kept = all.filter(m => keepVs.contains(m.snapshotId))
    val P = IndexBuilder.Paths(root)
    def docsRefs(ms: Seq[Manifest]) = ms.flatMap(m =>
      m.shards.filter(_.holdsDocs).map(e => (e.gen, e.shard))).toSet
    def postRefs(ms: Seq[Manifest]) = ms.flatMap(m =>
      m.shards.filter(_.postings > 0).map(e => (e.gen, e.shard))).toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def orphanOld(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime > orphanGraceMs

    // Delete the EXPIRING MANIFEST FILES FIRST, data dirs after (ADVICE
    // r04 item 3): the invariant is that any manifest versions() can
    // still resolve must stay fully readable. A crash after this loop
    // but before the dir sweep leaves retained manifests + some
    // unreferenced (now orphan) data dirs — re-running expire reclaims
    // them. The reverse order left listed manifest files whose
    // generation dirs were already gone: queryAt would pass its
    // retention require() and then die on a raw parquet path error.
    vs.dropRight(math.max(1, keepLast)).foreach { v =>
      // resolve the sidecar name BEFORE deleting the header that names it
      val sidecar = IndexManifest.entriesFileOf(root, v)
      fs.delete(IndexManifest.manifestPath(root, v), false)
      sidecar.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
    }

    def leafName(n: String, prefix: String): Option[Long] =
      if (n.startsWith(prefix)) scala.util.Try(n.stripPrefix(prefix).toLong).toOption
      else None

    def sweepTable(table: String, keep: Set[(Long, Int)],
                   known: Set[(Long, Int)]): Unit = {
      val tp = new org.apache.hadoop.fs.Path(table)
      if (!fs.exists(tp)) return
      fs.listStatus(tp).foreach { genSt =>
        leafName(genSt.getPath.getName, "gen=").foreach { g =>
          var liveChildren = false
          fs.listStatus(genSt.getPath).foreach { shardSt =>
            leafName(shardSt.getPath.getName, "shard=") match {
              case Some(s) =>
                val key = (g, s.toInt)
                if (keep(key)) liveChildren = true
                else if (known(key) || orphanOld(shardSt))
                  fs.delete(shardSt.getPath, true)
                else liveChildren = true // young orphan: possibly in-flight
              case None => () // _SUCCESS etc. — swept with the gen dir below
            }
          }
          // a gen dir with no shard dirs left: drop it — UNLESS it holds
          // a DIRECTORY child (e.g. Spark's `_temporary` staging of a
          // concurrent writer whose shard dirs appear only at job
          // commit): those wait out the orphan grace like any other
          // possibly-in-flight state. Marker FILES (_SUCCESS) alone
          // never indicate an in-flight write.
          if (!liveChildren) {
            val rest = fs.listStatus(genSt.getPath)
            val anyShard = rest.exists(st =>
              leafName(st.getPath.getName, "shard=").isDefined)
            val anyDir = rest.exists(_.isDirectory)
            if (!anyShard && (!anyDir || orphanOld(genSt)))
              fs.delete(genSt.getPath, true)
          }
        }
      }
    }
    sweepTable(P.docs, docsRefs(kept), docsRefs(all))
    sweepTable(P.postings, postRefs(kept), postRefs(all))
    // term_stats generations (same two classes)
    val statsKeep = kept.map(_.statsGen).toSet
    val statsKnown = all.map(_.statsGen).toSet
    val sp = new org.apache.hadoop.fs.Path(P.termStats)
    if (fs.exists(sp)) fs.listStatus(sp).foreach { st =>
      leafName(st.getPath.getName, "gen=").foreach { g =>
        if (!statsKeep(g) && (statsKnown(g) || orphanOld(st)))
          fs.delete(st.getPath, true)
      }
    }
    // stale per-attempt manifest tmp files + unreferenced entry sidecars
    // from crashed/losing commits (referenced sidecars = the retained
    // manifests'; anything else waits out the orphan grace like every
    // other possibly-in-flight file)
    val liveSidecars = keepVs.flatMap(v =>
      IndexManifest.entriesFileOf(root, v)).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).foreach { st =>
      val n = st.getPath.getName
      val staleTmp = n.startsWith("manifest-v") && n.endsWith(".tmp")
      val orphanSidecar = n.startsWith("manifest-v") &&
        n.endsWith(".entries") && !liveSidecars(n)
      if (st.isFile && (staleTmp || orphanSidecar) && orphanOld(st))
        fs.delete(st.getPath, false)
    }
    ()
  }
}
