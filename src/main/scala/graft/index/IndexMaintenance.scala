package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.Turn
import graft.query.SearchEngine

/** Incremental index maintenance — the Spark re-expression of the
  * reference's `POST /api/indexPage` path (SURVEY.md §3.3; reference:
  * IndexingServiceImpl.java:126-138 → PrepareDatabaseBeforeIndexingAction
  * .java:39-59 delete + LemmaServiceImpl.java:81-92 df decrement): a
  * partition-scoped rewrite of ONLY the shards holding the touched
  * documents, followed by a set-based term-stats recomputation and an
  * atomic manifest snapshot — never row-at-a-time mutation (S6 mapping,
  * SURVEY.md §2.1).
  *
  * SNAPSHOT ISOLATION (VERDICT r03 item 1): every rewrite is
  * copy-on-write into a NEW generation dir (`docs/gen=G/shard=K`,
  * `postings/gen=G/shard=K`, `term_stats/gen=G` with G unique to the
  * attempt) — dirs referenced by a committed manifest are IMMUTABLE.
  * A reader that pinned the pre-commit manifest keeps scanning the old
  * generation's files (retained for a one-snapshot grace period,
  * [[IndexSnapshot.expireSnapshots]]); a reader arriving after the commit
  * resolves the new one; nobody can observe new docs against old postings.
  * This replaces the reference's global RW lock (LockGenerator.java:10-23)
  * with the lock-free Iceberg commit design the manifest layer emulates.
  * Crash safety falls out too: a job that dies before its manifest commit
  * leaves only orphan dirs no manifest references — invisible to every
  * reader, aged out by expireSnapshots' orphan sweep. Concurrent writers
  * get lock-free OPTIMISTIC CONCURRENCY: each attempt writes its own
  * unique generation, the version-named manifest rename is the CAS, the
  * loser raises CommitConflictException with nothing torn. In particular
  * a crashed APPEND can no longer leave orphan doc rows that a later
  * append would silently re-assign docIds over (ADVICE r03 item 1): the
  * manifest's maxDocId is authoritative because the manifest defines
  * table membership.
  *
  * docId semantics under maintenance mirror the reference's auto-increment
  * ids (PageEntity.java:18-21):
  *  - REPLACE of an existing (conv_id, turn_idx) keeps its docId — ranks
  *    are key-ordered and keys are unchanged;
  *  - DELETE leaves a gap in the docId space (exactly like deleted MySQL
  *    rows; dense-rank contiguity is a FRESH-BUILD invariant, maintenance
  *    preserves *stability* instead — queries never depend on contiguity);
  *  - APPEND assigns fresh docIds after the current maximum into NEW
  *    shards (supported for conv_ids sorting after all existing ones,
  *    which is the natural shape for transcript streams keyed by
  *    time-ordered ids).
  */
object IndexMaintenance {

  private def manifestOf(root: String): Manifest =
    IndexManifest.read(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))

  /** Old generations retained per commit (current + previous snapshot):
    * an uncached reader that pinned the pre-commit manifest finishes its
    * scan during the grace period. Readers spanning SEVERAL maintenance
    * commits need a higher retention — set GRAFT_KEEP_SNAPSHOTS (or the
    * programmatic override) and/or call
    * [[IndexSnapshot.expireSnapshots]] on your own schedule. */
  @volatile private[graft] var keepSnapshotsOverride: Option[Int] = None
  private def keepSnapshots: Int =
    keepSnapshotsOverride.getOrElse(
      sys.env.get("GRAFT_KEEP_SNAPSHOTS").map(_.toInt).getOrElse(2))

  /** # shards the last key-existence check actually scanned — test
    * observability for the conv-range pruning (0 = the manifest alone
    * proved the keys new, the common case for time-ordered ingest). */
  private[graft] val lastKeyCheckShards =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** xor half of the manifest's "n-xor" input fingerprint. */
  private def parseFpXor(s: String): Long = {
    val i = s.indexOf('-')
    s.substring(i + 1).toLong
  }

  /** Generation id for this op's data dirs — UNIQUE PER ATTEMPT (full
    * 63-bit random; a time-prefixed 20-bit draw collides at p≈2^-20 per
    * same-millisecond pair, enough to matter at sustained multi-writer
    * micro-batch rates), never derived from the target snapshot id: two
    * concurrent writers racing for the same snapshot must write DISJOINT
    * dirs so the manifest CAS loser cannot have clobbered the winner's
    * files (the winner's manifest references only its own generation). A
    * crashed/losing attempt's dirs are unreferenced orphans, reclaimed
    * by [[IndexSnapshot.expireSnapshots]] after the orphan grace age.
    * Gen 0 is reserved for fresh builds.
    *
    * No partition-overwrite-mode override is needed (or taken — the
    * session's conf belongs to the caller): every write targets a fresh
    * private dir, where static and dynamic modes behave identically. */
  private def uniqueGen(): Long = {
    var g = 0L
    while (g == 0L)
      g = java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue
    g
  }

  /** Per-shard doc stats in ONE column-pruned agg: count, xor-fingerprint,
    * Σ dl, docId range, conv range. Run over batch-/affected-shard-sized
    * frames only — never the corpus. */
  private final case class DocShardStats(n: Long, xor: Long, sumDl: Long,
                                         minDoc: Long, maxDoc: Long,
                                         minConv: String, maxConv: String)
  private def perShardDocStats(
      df: org.apache.spark.sql.DataFrame): Map[Int, DocShardStats] = {
    import df.sparkSession.implicits._
    val hashUdf = udf((c: String, t: Int, x: String) =>
      DocIdAssigner.rowHash(c, t, x))
    df.select($"shard", $"docId", $"conv_id", $"dl".cast("long").as("dl"),
        hashUdf($"conv_id", $"turn_idx", $"text").as("h"))
      .groupBy($"shard")
      .agg(count(lit(1)), expr("bit_xor(h)"), sum($"dl"),
        min($"docId"), max($"docId"), min($"conv_id"), max($"conv_id"))
      .collect()
      .map(r => r.getInt(0) -> DocShardStats(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6),
        r.getString(7)))
      .toMap
  }

  /** Shards whose conv range could hold any key in [lo, hi] (unstamped
    * non-empty entries conservatively included). */
  private def convCandidates(m: Manifest, lo: String, hi: String): Seq[Int] =
    m.shards.filter(e => e.holdsDocs && e.convRangeIntersects(lo, hi))
      .map(_.shard)

  /** Delete whole conversations: copy-on-write rewrite of only the shards
    * containing them, set-based term-stats recomputation, new snapshot.
    * Returns affected shard ids.
    *
    * Driver traffic is O(#affected shards): targeting uses the `shard`
    * partition column and the delete itself is a broadcast anti-join on
    * conv_id — deleting a huge tenant moves no docIds through the driver
    * (the r01 `collect + isin` version OOMed by design there). */
  def deleteConversations(spark: SparkSession, root: String,
                          convIds: Set[String]): Seq[Int] = {
    import spark.implicits._
    deleteConversationsDf(spark, root,
      convIds.toSeq.toDF("conv_id"))
  }

  /** Scale variant: the conv_ids to delete arrive as a DataFrame (e.g. a
    * tombstone table) and are anti-joined — nothing is collected. */
  def deleteConversationsDf(spark: SparkSession, root: String,
                            convs: org.apache.spark.sql.DataFrame): Seq[Int] = {
    import spark.implicits._
    val m0 = manifestOf(root)
    // several jobs read the tombstone set (range bounds, shard targeting,
    // the rewrite's anti-join): pin ONE evaluation so a value-
    // nondeterministic source cannot compute conv-range candidates from
    // one row set and anti-join another, silently leaving victims
    // undeleted in pruned-away shards (ADVICE r04 item 2 — same contract
    // as replaceTurnsDs / appendConversationsDs)
    val drop = convs.select(col("conv_id")).distinct().localCheckpoint(true)
    try {
    // conv-range shard pruning: only shards whose manifest conv range
    // intersects the tombstones' range can hold victims. All discovery
    // reads touch IMMUTABLE generation dirs, so the serving caches stay
    // up until the rewrite itself (a no-op delete flushes nothing).
    val b = drop.agg(min(col("conv_id")), max(col("conv_id"))).head()
    if (b.isNullAt(0)) { lastKeyCheckShards.set(0); return Nil } // empty set
    val candidates = convCandidates(m0, b.getString(0), b.getString(1))
    lastKeyCheckShards.set(candidates.size)
    if (candidates.isEmpty) return Nil
    val affected = IndexSnapshot.docsFor(spark, root, m0, candidates)
      .join(broadcast(drop), Seq("conv_id"), "left_semi")
      .select($"shard").distinct().as[Int].collect().toSeq.sorted
    if (affected.isEmpty) return Nil
    rewriteShards(spark, root, m0, affected, dropConvs = Some(broadcast(drop)))
    affected
    } finally drop.unpersist() // free the checkpoint blocks (tombstone
                               // streams call this per batch)
  }

  /** Replace the text of existing turns (same (conv_id, turn_idx) keys ⇒
    * same docIds). Unknown keys are rejected — replacement must not
    * reorder ranks. Returns affected shard ids. */
  def replaceTurns(spark: SparkSession, root: String,
                   turns: Seq[Turn]): Seq[Int] = {
    import spark.implicits._
    require(turns.nonEmpty, "nothing to replace")
    replaceTurnsDs(spark, root, spark.createDataset(turns))
  }

  /** Scale variant: replacements arrive as a Dataset and are applied with
    * a join against the affected shards' docs (Catalyst broadcasts a
    * small batch by itself; a bulk re-ingest stays fully distributed —
    * nothing is collected or broadcast by hand). */
  def replaceTurnsDs(spark: SparkSession, root: String,
                     turns: org.apache.spark.sql.Dataset[Turn]): Seq[Int] = {
    import spark.implicits._
    val m0 = manifestOf(root)
    // several jobs read the batch (key check, shard targeting, rewrite):
    // pin ONE evaluation so a value-nondeterministic input cannot pass
    // the key check with one row set and rewrite with another (same
    // contract as appendConversationsDs / DocIdAssigner.assignCore)
    val batch = turns.localCheckpoint(true)
    try { // finally-unpersist covers the require rejections too
    val keys = batch.select($"conv_id", $"turn_idx").distinct()
    // conv-range shard pruning: every existing key must live in a shard
    // whose conv range covers it, so only intersecting shards are
    // scanned — a key outside every range is missing by definition
    val b = keys.agg(min($"conv_id"), max($"conv_id")).head()
    require(!b.isNullAt(0), "nothing to replace")
    val candidates = convCandidates(m0, b.getString(0), b.getString(1))
    lastKeyCheckShards.set(candidates.size)
    val candDocs = IndexSnapshot.docsFor(spark, root, m0, candidates)
    // unknown keys are rejected distributively (≤5 examples to the driver)
    val missing = keys
      .join(candDocs.select($"conv_id", $"turn_idx"),
        Seq("conv_id", "turn_idx"), "left_anti")
      .take(5)
      .map(r => (r.getString(0), r.getInt(1)))
    require(missing.isEmpty,
      s"replaceTurns requires existing keys; missing: ${missing.toSeq} " +
      "(additions go through appendConversations / a fresh build)")
    val shards = candDocs
      .join(keys, Seq("conv_id", "turn_idx"), "left_semi")
      .select($"shard").distinct().as[Int].collect().toSeq.sorted
    rewriteShards(spark, root, m0, shards, replace = Some(batch.toDF()))
    shards
    } finally batch.unpersist() // free the checkpoint blocks (long-running
                                // callers would otherwise accumulate them,
                                // incl. rejected batches)
  }

  /** Merge small shards into fewer, larger ones — the Lucene segment-
    * merge / Iceberg rewrite_data_files analog that keeps a streaming-
    * ingested index healthy: every micro-batch append creates ≥1 new
    * shard, and without compaction a long-lived index accumulates
    * thousands of tiny shards (manifest bloat, scan fan-out, per-shard
    * top-k overhead). docIds are UNTOUCHED — rows are only relabeled to
    * the group's smallest shard id and re-encoded — so ranks, scoped
    * segments and every stamped range stay exact; absorbed shard ids
    * leave the manifest. (A later append may reuse an absorbed id —
    * harmless: shard ids are labels, and every (generation, shard) pair
    * is a distinct immutable dir, so no path or snapshot ambiguity can
    * arise.)
    *
    * Planning is manifest-only (no scan): only FRAGMENTS — shards whose
    * docId-range size is under `smallShardDocs` (default
    * maxDocsPerShard/4) — are merge candidates; healthy shards are never
    * rewritten and act as run barriers, so compaction cannot collapse a
    * well-sized index into one giant shard (the Lucene tiered-merge
    * floor). Groups are runs of docId-ADJACENT fragments whose combined
    * range stays under `maxDocsPerShard`. Range size overestimates true
    * doc count when deletes left gaps — a conservative bias that only
    * under-merges. Idempotent at fixed parameters: a merged shard that
    * is still fragment-sized has no ≥2-member group left to join.
    * Returns the absorbed shard ids (empty = nothing worth merging). */
  def compactShards(spark: SparkSession, root: String,
                    maxDocsPerShard: Long = 4_000_000L,
                    smallShardDocs: Long = -1L): Seq[Int] = {
    val m0 = manifestOf(root)
    val small = if (smallShardDocs > 0) smallShardDocs
                else math.max(1L, maxDocsPerShard / 4)
    val sorted = m0.shards.filter(_.minDocId >= 0).sortBy(_.minDocId)
    def rangeSize(e: ShardEntry): Long = e.maxDocId - e.minDocId + 1
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[ShardEntry]]
    var cur = Vector.empty[ShardEntry]
    def flush(): Unit = {
      if (cur.size >= 2) groups += cur
      cur = Vector.empty
    }
    // the cap bounds the merged SPAN (last.maxDocId − first.minDocId),
    // not the sum of member sizes: fully-deleted shards leave docId gaps
    // that sort-adjacent fragments straddle, and a span-oversized merged
    // range would both break the documented cap and widen every later
    // shardsIntersecting prune that crosses the gap
    sorted.foreach { e =>
      if (rangeSize(e) >= small) flush() // healthy shard: barrier
      else {
        if (cur.nonEmpty &&
            e.maxDocId - cur.head.minDocId + 1 > maxDocsPerShard) flush()
        cur :+= e
      }
    }
    flush()
    if (groups.isEmpty) return Nil
    val relabel = groups.flatMap { g =>
      val target = g.map(_.shard).min
      g.map(e => e.shard -> target)
    }.toMap
    val members = relabel.keys.toSeq.sorted
    rewriteShards(spark, root, m0, members, relabel = relabel)
    members.filterNot(s => relabel(s) == s) // the absorbed ids
  }

  /** Core copy-on-write rewrite: re-derive docs → postings for the
    * affected shards from (old docs ∖ deleted) ∪ replacements into a NEW
    * generation dir — optionally relabeling shard ids (compaction) —
    * recompute term_stats from the prospective posting set (exact df —
    * the set-based analog of the reference's decrement, never ±1
    * mutation), commit a new manifest snapshot, then expire generations
    * older than the grace window. */
  private def rewriteShards(spark: SparkSession, root: String,
                            m0: Manifest,
                            shards: Seq[Int],
                            dropConvs: Option[org.apache.spark.sql.DataFrame] = None,
                            replace: Option[org.apache.spark.sql.DataFrame] = None,
                            relabel: Map[Int, Int] = Map.empty): Unit = {
    import spark.implicits._
    if (shards.isEmpty) return
    val P = IndexBuilder.Paths(root)
    // this ATTEMPT's private generation (unique — see uniqueGen)
    val newGen = uniqueGen()

    // new docs content for the affected shards; deletions are an
    // anti-join (distributed), never an isin over collected ids
    val oldDocs = IndexSnapshot.docsFor(spark, root, m0, shards)
    val kept = dropConvs match {
      case Some(drop) => oldDocs.join(drop, Seq("conv_id"), "left_anti")
      case None => oldDocs
    }
    val newDocs = replace match {
      case None => kept
      case Some(repl) =>
        // left join against the replacement batch: a small batch
        // broadcasts (Catalyst's call), a bulk one sort-merges — either
        // way nothing is collected. dl = RAW token count of the new text
        // (the same unstemmed length the build computes; stemming only
        // affects terms).
        // one replacement per key: duplicate keys in the batch would
        // duplicate doc rows through the join (dedupe upstream if the
        // surviving copy matters)
        val r = repl.dropDuplicates("conv_id", "turn_idx")
          .select(Seq($"conv_id", $"turn_idx",
            $"role".as("r_role"), $"text".as("r_text"), $"tool".as("r_tool")) ++
            (if (m0.fields) Seq($"ts".as("r_ts")) else Nil): _*)
        kept.join(r, Seq("conv_id", "turn_idx"), "left")
          .select(Seq($"docId", $"conv_id", $"turn_idx",
            coalesce($"r_role", $"role").as("role"),
            coalesce($"r_text", $"text").as("text"),
            coalesce($"r_tool", $"tool").as("tool"),
            when($"r_text".isNotNull,
              size(graft.functions.TokensExpression.tokens($"r_text")))
              .otherwise($"dl").cast("int").as("dl"),
            $"shard") ++
            (if (m0.fields) Seq(coalesce($"r_ts", $"ts").as("ts")) else Nil): _*)
    }
    // The repartition re-establishes the ONE-FILE-PER-SHARD layout
    // invariant the aligned query scan and the chunk-ordinal metric
    // depend on: without it a big shard's rows would split across tasks
    // and each task would write its own fragment file into the shard dir.
    // Compaction relabels shard ids here (docIds untouched).
    val relabelCol: org.apache.spark.sql.Column =
      if (relabel.isEmpty) $"shard"
      else {
        val mapping = typedLit(relabel)
        coalesce(mapping($"shard"), $"shard").cast("int")
      }
    newDocs
      .select(Seq($"docId", $"conv_id", $"turn_idx", $"role", $"text", $"tool",
        $"dl", relabelCol.as("shard")) ++
        (if (m0.fields) Seq($"ts") else Nil): _*)
      .repartition($"shard")
      .sortWithinPartitions($"shard", $"docId")
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(P.docsGen(newGen))

    // postings for the rewritten shards — straight from the new
    // generation's docs, as the build (in-task term counts; analyzer
    // variant from the manifest). One file per task: the gen dir was
    // just written one-file-per-shard, and split sizing pins that
    // alignment so chunk ordinals stay per-shard.
    val stem = m0.analyzerVersion == Analyzer.StemVersion
    val withPos = m0.positions // format is a build property: rewrites keep it
    val acc = new IndexBuilder.ShardMetricsAcc
    spark.sparkContext.register(acc, "maintShardMetrics")
    if (IndexSnapshot.hasParquetFiles(spark, P.docsGen(newGen))) {
      IndexBuilder.withOneFilePerTask(spark, P.docsGen(newGen)) { docsAll =>
        val withFields = m0.fields // format is a build property, like positions
        docsAll
          .select(Seq($"docId", $"dl", $"shard", $"text") ++
            (if (withFields) Seq($"role", $"tool") else Nil): _*)
          .mapPartitions { rows =>
            IndexBuilder.invertDocsPartition(rows, stem,
              IndexBuilder.MaxChunkPostings,
              IndexBuilder.MaxBufferedPostings, withPos, withFields).map { pl =>
              acc.add(IndexBuilder.shardMetrics(pl))
              pl
            }
          }
          .write.mode(SaveMode.Overwrite).partitionBy("shard")
          .parquet(P.postingsGen(newGen))
      }
    } // else: every affected shard's docs were deleted — no postings dir

    // surviving entry ids: relabel targets for compaction, the shards
    // themselves otherwise; absorbed source ids get NO entry and leave
    // the manifest (replacedShards drops them). Merged entries keep the
    // absorbed members as LINEAGE (sourcePartitions — the reference's
    // DetailedStatisticsItem provenance analog).
    val lineage: Map[Int, Seq[Int]] =
      relabel.groupBy(_._2).map { case (t, kvs) => t -> kvs.keys.toSeq.sorted }
    val entryIds = shards.map(s0 => relabel.getOrElse(s0, s0)).distinct
    val written = acc.value.keySet
    val newEntries = acc.value.toSeq.map { case (s0, (t, p, b, d)) =>
      ShardEntry(s0, t, p, b, lineage.getOrElse(s0, Seq(s0)), sumDl = d,
        gen = newGen) } ++
      entryIds.filterNot(written).map(s0 =>
        ShardEntry(s0, 0L, 0L, 0L, lineage.getOrElse(s0, Seq(s0)), gen = newGen))

    // flush pinned frames/memos BEFORE the flip (bumps the memo
    // generation so an in-flight pre-commit compute cannot insert), and
    // AGAIN after so nothing memoized between the two survives
    SearchEngine.disableServingCache(root)
    commitSnapshot(spark, root, m0, replacedShards = shards,
      newEntries = newEntries, newGen = newGen,
      // pure relabeling leaves every term's df/maxTf/sumTf untouched —
      // the dictionary is reused, not re-aggregated
      reuseDictionary = relabel.nonEmpty && dropConvs.isEmpty && replace.isEmpty)
    SearchEngine.disableServingCache(root)
    IndexSnapshot.expireSnapshots(spark, root, keepSnapshots)
  }

  /** Append whole new conversations (reference: indexPage on a NEW page,
    * IndexingThreadAction.java:126-141) — any new (conv_id, turn_idx)
    * keys, in or out of conv-id order (the reference's indexPage accepts
    * any new page; backfills are the common case). New docs get fresh
    * docIds after the current maximum, in (conv_id, turn_idx) order
    * within the batch, into NEW shards; nothing existing is rewritten
    * except the (tiny) dictionary and the manifest. docId semantics:
    * STABILITY, not global rank order — an out-of-order conversation's
    * docIds are simply a later contiguous segment, which scoped queries
    * handle exactly (SearchEngine.scopeSegments). Keys that already
    * exist are rejected — updates go through replaceTurns. */
  def appendConversations(spark: SparkSession, root: String,
                          turns: Seq[Turn], newShards: Int = 1): Seq[Int] = {
    import spark.implicits._
    require(turns.nonEmpty, "nothing to append")
    appendConversationsDs(spark, root, spark.createDataset(turns), newShards)
  }

  /** Scale variant (VERDICT r02 item 5): the batch arrives as a
    * `Dataset[Turn]` and never materializes on the driver — a 100k-turn
    * backfill plans exactly like a 3-turn micro-batch. docId assignment
    * reuses [[DocIdAssigner.assignCore]] (the pid-column range-bucket
    * pass) offset past the current maximum, so the in-batch order is the
    * same dense (conv_id, turn_idx) rank a fresh build would give and the
    * docId-integrity logic exists in exactly one place. */
  def appendConversationsDs(spark: SparkSession, root: String,
                            turns: org.apache.spark.sql.Dataset[Turn],
                            newShards: Int = 1): Seq[Int] = {
    import spark.implicits._
    val m0 = manifestOf(root)
    val P = IndexBuilder.Paths(root)
    val newGen = uniqueGen() // this attempt's private generation
    // assignCore runs SEVERAL jobs over the batch (count, boundary
    // sample, per-pid counts, the assignment write): pin ONE evaluation
    // with an eager localCheckpoint so a value-nondeterministic input
    // (e.g. the dropDuplicates survivor of a dedupIngest batch twin)
    // cannot yield different rows to different jobs — that would collide
    // docId offsets silently. Micro-batch / backfill sized, so the
    // distributed materialization is cheap; the fresh-build path reads a
    // storage table and needs no pin.
    val batch = turns.localCheckpoint(true)
    try {
    // max docId and shard come from the manifest (kept fresh by every
    // build/maintenance commit) — no full docs scan per micro-batch.
    // The manifest is AUTHORITATIVE for table membership under the
    // snapshot layout: a crashed append's doc rows live in a generation
    // dir no manifest references, so they are invisible here and the
    // orphan dirs age out via expireSnapshots (ADVICE r03 item 1). A
    // GENUINELY EMPTY shard (postings == 0, e.g. quantile collapse at
    // build or a full-shard delete) legitimately carries (-1,-1) and
    // contributes nothing to the max; only an UNSTAMPED non-empty entry
    // (legacy manifest) forces the docs-scan fallback — never risk a
    // docId collision.
    val stamped = m0.shards.filter(_.maxDocId >= 0)
    val maxDocId =
      if (stamped.nonEmpty &&
          m0.shards.forall(e => e.maxDocId >= 0 || e.postings == 0))
        stamped.map(_.maxDocId).max
      else {
        // docs-scan fallback (legacy-unstamped manifest). An index whose
        // docs are ALL deleted (or a legacy empty one) yields a NULL max —
        // start the docId space at 0 rather than NPE-wedging every retry
        // of a streaming ingest into an emptied index (ADVICE r04 item 1)
        val r = IndexSnapshot.docs(spark, root, m0).agg(max($"docId")).head()
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    // an all-deleted index may carry an empty shard list — fresh shards
    // then start at 0, same as a fresh build
    val maxShard = m0.shards.foldLeft(-1)((a, e) => math.max(a, e.shard))
    // existing keys are rejected distributively (semi join — only the ≤5
    // offending examples ever reach the driver). Conv-range shard
    // pruning makes this O(intersecting shards), and for time-ordered
    // ingest (new conv_ids sort after every committed one) the manifest
    // alone proves the keys new — ZERO shards scanned per micro-batch.
    val b = batch.agg(min($"conv_id"), max($"conv_id")).head()
    val candidates =
      if (b.isNullAt(0)) Nil
      else convCandidates(m0, b.getString(0), b.getString(1))
    lastKeyCheckShards.set(candidates.size)
    if (candidates.nonEmpty) {
      val dup = IndexSnapshot.docsFor(spark, root, m0, candidates)
        .select($"conv_id", $"turn_idx")
        .join(batch.select($"conv_id", $"turn_idx").distinct(),
          Seq("conv_id", "turn_idx"), "left_semi")
        .take(5)
        .map(r => (r.getString(0), r.getInt(1)))
      require(dup.isEmpty,
        s"appendConversations requires NEW keys; existing: ${dup.toSeq} " +
        "(updates go through replaceTurns)")
    }

    // docIds continue the dense rank after maxDocId, spread over
    // newShards fresh contiguous-range shards
    val (newDocs, stats) = DocIdAssigner.assignCore(spark, batch,
      buckets = newShards, baseDocId = maxDocId + 1, baseShard = maxShard + 1)
    require(stats.nDocs > 0, "nothing to append")
    val shards = stats.ranges.keys.toSeq.sorted

    // the new shards' docs go into THIS snapshot's generation dir (the
    // assigner's steered 1:1 pid→task partitioning writes one file per
    // shard — the aligned-scan layout invariant)
    newDocs
      .select(Seq($"docId", $"conv_id", $"turn_idx", $"role", $"text", $"tool",
        $"dl", $"shard") ++
        // appends write the index's docs format: ts only on fields indexes
        // (a legacy index must not end up with half its shards ts-less)
        (if (m0.fields) Seq($"ts") else Nil): _*)
      .sortWithinPartitions($"shard", $"docId")
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(P.docsGen(newGen))

    // postings for the new shards only — the gen dir holds exactly them
    val stem = m0.analyzerVersion == Analyzer.StemVersion
    val withPos = m0.positions // appends write the index's posting format
    val acc = new IndexBuilder.ShardMetricsAcc
    spark.sparkContext.register(acc, "appendShardMetrics")
    IndexBuilder.withOneFilePerTask(spark, P.docsGen(newGen)) { docsAll =>
      val withFields = m0.fields // appends write the index's posting format
      docsAll
        .select(Seq($"docId", $"dl", $"shard", $"text") ++
          (if (withFields) Seq($"role", $"tool") else Nil): _*)
        .mapPartitions { rs =>
          IndexBuilder.invertDocsPartition(rs, stem,
            IndexBuilder.MaxChunkPostings,
            IndexBuilder.MaxBufferedPostings, withPos, withFields).map { pl =>
            acc.add(IndexBuilder.shardMetrics(pl))
            pl
          }
        }
        .write.mode(SaveMode.Overwrite).partitionBy("shard")
        .parquet(P.postingsGen(newGen))
    }

    // EVERY appended shard needs a manifest entry, including one whose
    // docs produced zero postings (e.g. a micro-batch of zero-token
    // turns): without it the next append would reuse the shard id AND
    // re-assign its docIds.
    val accEntries = acc.value.toSeq.map { case (s0, (t, p, b, d)) =>
      ShardEntry(s0, t, p, b, Seq(s0), sumDl = d, gen = newGen) }
    val postingless = shards.filterNot(accEntries.map(_.shard).toSet)
      .map(s0 => ShardEntry(s0, 0L, 0L, 0L, Seq(s0), gen = newGen))
    // flush before the flip (gates in-flight memo inserts) and after
    SearchEngine.disableServingCache(root)
    commitSnapshot(spark, root, m0, replacedShards = Nil,
      newEntries = accEntries ++ postingless, newGen = newGen)
    SearchEngine.disableServingCache(root)
    IndexSnapshot.expireSnapshots(spark, root, keepSnapshots)
    shards
    } finally batch.unpersist() // streaming ingest appends per micro-batch
                                // — checkpoint blocks must not accumulate
                                // (incl. rejected/failed batches)
  }

  /** Stamp the new entries (docId range, conv range, exact set-based
    * sumDl) from ONE agg over the new generation's docs, recompute
    * term_stats over the PROSPECTIVE posting set into the new
    * generation, roll the corpus totals forward INCREMENTALLY, and
    * commit the snapshot. Nothing before the final
    * [[IndexManifest.commit]] is visible to readers.
    *
    * Incremental totals (the O(batch) commit — at 10^12 turns a
    * per-micro-batch full-corpus re-count/re-fingerprint would dominate
    * ingest): the xor fingerprint is INVERTIBLE, so
    *   fp'    = fp ⊕ xor(replaced shards' old rows) ⊕ xor(new gen rows)
    *   n'     = n − n_old_affected + n_new
    *   Σdl'   = Σdl − Σdl_old_affected + Σdl_new   (avgdl' = Σdl'/n')
    * Both deltas are affected-shard-/batch-sized scans. A legacy
    * manifest without the exact Σdl stamp falls back to the full
    * recompute once and is stamped thereafter. [[verifyManifest]] is the
    * full-recompute fsck that proves the rolled-forward totals. */
  private def commitSnapshot(spark: SparkSession, root: String,
                             m0: Manifest,
                             replacedShards: Seq[Int],
                             newEntries: Seq[ShardEntry],
                             newGen: Long,
                             reuseDictionary: Boolean = false): Unit = {
    import spark.implicits._
    val P = IndexBuilder.Paths(root)
    // one column-pruned agg over the new generation's docs (exclusively
    // this snapshot's): docId/conv ranges + count + xor + Σdl per shard
    val newStats =
      if (!IndexSnapshot.hasParquetFiles(spark, P.docsGen(newGen)))
        Map.empty[Int, DocShardStats]
      else perShardDocStats(spark.read.parquet(P.docsGen(newGen)))
    val stamped = newEntries.map { e =>
      newStats.get(e.shard) match {
        case Some(s) => e.copy(minDocId = s.minDoc, maxDocId = s.maxDoc,
          sumDl = s.sumDl, minConv = Some(s.minConv), maxConv = Some(s.maxConv))
        case None => e.copy(minDocId = -1L, maxDocId = -1L, sumDl = 0L,
          minConv = None, maxConv = None)
      }
    }
    val prospective = m0.shards.filterNot(s =>
      replacedShards.contains(s.shard) ||
      stamped.exists(_.shard == s.shard)) ++ stamped

    // term stats, per op class:
    //  - COMPACTION (pure relabel): provably identical dictionary — the
    //    new snapshot REFERENCES the old term_stats generation (dirs are
    //    immutable and retention keeps referenced gens), zero I/O;
    //  - APPEND (no shards replaced): roll the dictionary forward with a
    //    vocab-sized full-outer join against the NEW shards' aggregates —
    //    EXACT, because appends only add postings (df/sumTf are sums,
    //    maxTf can only grow). Per micro-batch this reads O(vocab + Δ),
    //    never the unaffected shards' posting metadata.
    //  - DELETE/REPLACE: a term's df/maxTf may shrink, so re-aggregate
    //    the prospective per-chunk pre-aggregates exactly (≤ shards ×
    //    chunks METADATA rows per term, no posting blobs read — hot-term
    //    skew structurally bounded).
    val statsGen = if (reuseDictionary) m0.statsGen else newGen
    val appendOnly = replacedShards.isEmpty
    val statsDf =
      if (reuseDictionary) null
      else if (appendOnly) {
        val delta = IndexSnapshot.postingsOf(spark, root,
            stamped.filter(_.postings > 0))
          // field postings are invisible to the dictionary (see
          // IndexBuilder.termStatsAgg — same exclusion on the roll)
          .filter(!$"term".startsWith(Analyzer.FieldMarker))
          .groupBy($"term")
          .agg(sum($"count").as("dDf"), max($"maxTf").as("dMax"),
            sum($"sumTf").as("dSum"))
        IndexSnapshot.termStats(spark, root, m0)
          .join(delta, Seq("term"), "full_outer")
          .select($"term",
            (coalesce($"df", lit(0L)) + coalesce($"dDf", lit(0L))).as("df"),
            greatest(coalesce($"maxTf", lit(0)), coalesce($"dMax", lit(0)))
              .cast("int").as("maxTf"),
            (coalesce($"sumTf", lit(0L)) + coalesce($"dSum", lit(0L)))
              .as("sumTf"))
      } else {
        IndexBuilder.termStatsAgg(
          IndexSnapshot.postingsOf(spark, root, prospective))
      }
    if (statsDf != null)
      statsDf.write.mode(SaveMode.Overwrite).parquet(P.termStatsGen(statsGen))

    val prospectiveM = m0.copy(shards = prospective, statsGen = statsGen)
    val (n, fp, sumDl) =
      if (m0.sumDl >= 0L) {
        // incremental roll-forward (O(affected + batch))
        val (oldN, oldXor, oldDl) =
          if (replacedShards.isEmpty) (0L, 0L, 0L)
          else {
            val old = perShardDocStats(
              IndexSnapshot.docsFor(spark, root, m0, replacedShards)).values
            (old.map(_.n).sum, old.map(_.xor).foldLeft(0L)(_ ^ _),
              old.map(_.sumDl).sum)
          }
        val newN = newStats.values.map(_.n).sum
        val newXor = newStats.values.map(_.xor).foldLeft(0L)(_ ^ _)
        val newDl = newStats.values.map(_.sumDl).sum
        (m0.nDocs - oldN + newN,
          parseFpXor(m0.inputFingerprint) ^ oldXor ^ newXor,
          m0.sumDl - oldDl + newDl)
      } else {
        // legacy manifest without the exact Σdl stamp: full recompute
        // ONCE, stamped from here on
        val all = perShardDocStats(
          IndexSnapshot.docs(spark, root, prospectiveM)).values
        (all.map(_.n).sum, all.map(_.xor).foldLeft(0L)(_ ^ _),
          all.map(_.sumDl).sum)
      }
    // optimistic concurrency: the version-named manifest rename is the
    // CAS — a concurrent writer that committed this version first wins
    // and this op raises CommitConflictException (retry against the new
    // snapshot). No torn state: every byte this op wrote lives in its
    // OWN unique generation dirs (uniqueGen), which on loss become
    // unreferenced orphans aged out by expireSnapshots
    IndexManifest.commit(root, prospectiveM.copy(
      snapshotId = m0.snapshotId + 1,
      inputFingerprint = s"$n-$fp",
      nDocs = n,
      sumDl = sumDl,
      avgdl = sumDl.toDouble / math.max(1L, n)), expectNew = true)
  }

  /** Full-recompute fsck of the CURRENT snapshot: re-derives every
    * rolled-forward total and stamp from the data and returns the
    * mismatches (empty = clean). The operational proof that incremental
    * commits stayed exact; CLI: `Maintain <root> fsck`. */
  def verifyManifest(spark: SparkSession, root: String,
                     deep: Boolean = false): Seq[String] = {
    import spark.implicits._
    val m = manifestOf(root)
    val stats = perShardDocStats(IndexSnapshot.docs(spark, root, m))
    val problems = Seq.newBuilder[String]
    if (deep) {
      // dictionary: the incrementally-rolled term_stats must equal a
      // fresh exact re-aggregation of the snapshot's posting metadata
      // (distributed symmetric difference — nothing vocab-sized collects)
      val recomputed =
        IndexBuilder.termStatsAgg(IndexSnapshot.postings(spark, root, m))
      val current = IndexSnapshot.termStats(spark, root, m)
        .select($"term", $"df", $"maxTf", $"sumTf")
      val diff = current.exceptAll(recomputed)
        .unionAll(recomputed.exceptAll(current)).count()
      if (diff != 0)
        problems += s"term_stats diverges from posting re-aggregation on $diff rows"
    }
    val n = stats.values.map(_.n).sum
    val xor = stats.values.map(_.xor).foldLeft(0L)(_ ^ _)
    val sumDl = stats.values.map(_.sumDl).sum
    if (m.nDocs != n) problems += s"nDocs ${m.nDocs} != recomputed $n"
    if (m.inputFingerprint != s"$n-$xor")
      problems += s"fingerprint ${m.inputFingerprint} != recomputed $n-$xor"
    if (m.sumDl >= 0 && m.sumDl != sumDl)
      problems += s"sumDl ${m.sumDl} != recomputed $sumDl"
    val expectAvgdl = sumDl.toDouble / math.max(1L, n)
    if (m.sumDl >= 0 && m.avgdl != expectAvgdl)
      problems += s"avgdl ${m.avgdl} != recomputed $expectAvgdl"
    m.shards.foreach { e =>
      stats.get(e.shard) match {
        case Some(s) =>
          if (e.minDocId != s.minDoc || e.maxDocId != s.maxDoc)
            problems += s"shard ${e.shard} docId range (${e.minDocId},${e.maxDocId}) != (${s.minDoc},${s.maxDoc})"
          if (e.minConv.exists(_ != s.minConv) || e.maxConv.exists(_ != s.maxConv))
            problems += s"shard ${e.shard} conv range stale"
        case None =>
          if (e.minDocId >= 0)
            problems += s"shard ${e.shard} claims docs but none found"
      }
    }
    stats.keys.filterNot(m.completedShards).foreach(s =>
      problems += s"docs present for shard $s absent from manifest")
    problems.result()
  }
}
