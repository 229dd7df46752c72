package graft.perfbench

import scala.collection.mutable

import graft.fixtures.TranscriptGen
import graft.index.{IndexManifest, IndexMaintenance}
import graft.model.{SearchHit, Turn}
import graft.oracle.Oracle

/** Pieces both workloads share. */
private object Common {
  /** Runs one query as a request, by default of kind `query.<class>`;
    * traced requests also time a manifest resolve like the one the query
    * starts with. */
  def query(ctx: Ctx, root: String, q: Query, kind: String = "", traced: Option[Boolean] = None)
      : (scala.util.Try[Vector[SearchHit]], Req) =
    ctx.request(if (kind.isEmpty) s"query.${q.cls}" else kind, traced.getOrElse(ctx.args.trace)) {
      ctx.probe("index.manifest_resolve")(IndexManifest.readCached(root))
      q.run(ctx.spark, root)
    }

  /** Traced runs only: one query of each read class that has no traced
    * request yet, checked against the oracle of the index's current
    * corpus, so every query layer is measured on every workload. */
  def probeQueries(ctx: Ctx, root: String, gen: QueryGen, oracle: Oracle,
                   hitsOf: mutable.Map[Long, Int], out: Outcome): Unit = {
    val missing = Query.Classes.filterNot(c => ctx.reqs.exists(r => r.kind == s"query.$c" && r.traced))
    gen.mix(QueryGen.Cycle).filter(q => missing.contains(q.cls)).groupBy(_.cls).values.map(_.head)
      .toSeq.sortBy(_.cls).foreach { q =>
        out.attempted += 1
        val (res, r) = query(ctx, root, q)
        res.foreach(h => hitsOf(r.id) = h.size)
        if (!res.toOption.exists(Ctx.sameHits(_, q.expect(oracle)))) out.fail(s"probe: ${q.label}")
      }
  }

  def snapshotId(root: String): Long = IndexManifest.readCached(root).get.snapshotId

  /** Whole `TranscriptGen` conversations from index `from` on, until they
    * hold at least `minTurns` turns; returns them and the next index.
    * Conversations generated later sort after earlier ones (time-ordered
    * conv ids). Sizes are set in turns because the generator's turns per
    * conversation vary with the seed by a factor of three. */
  def conversations(seed: Long, from: Int, minTurns: Int): (Vector[Turn], Int) = {
    val out = Vector.newBuilder[Turn]
    var n = 0
    var c = from
    while (n < minTurns) {
      val conv = TranscriptGen.conversation(seed, c, 8, 0L)
      out ++= conv
      n += conv.size
      c += 1
    }
    (out.result(), c)
  }

  /** A block of consecutive conversations from a random start, holding at
    * least `minTurns` of the live turns. */
  def convBlock(rng: scala.util.Random, live: collection.Map[(String, Int), Turn],
                nConvs: Int, minTurns: Int): Set[String] = {
    val byConv = live.keysIterator.toSeq.groupBy(_._1).map { case (c, ks) => c -> ks.size }
    var c = rng.nextInt(nConvs)
    var n = 0
    val out = Set.newBuilder[String]
    while (n < minTurns && c < nConvs) {
      val id = f"conv-$c%08d"
      out += id
      n += byConv.getOrElse(id, 0)
      c += 1
    }
    out.result()
  }

  /** New text for every turn of the given conversations (same keys, role,
    * tool and timestamp), drawn from a second generator stream. */
  def rewritten(seed: Long, round: Int, turns: Seq[Turn]): Vector[Turn] =
    turns.groupBy(_.conv_id).toVector.sortBy(_._1).flatMap { case (conv, ts) =>
      val idx = conv.stripPrefix("conv-").toLong
      val alt = TranscriptGen.conversation(seed * 31L + 1000003L * (round + 1), idx, 8, 0L)
      ts.sortBy(_.turn_idx).map(t => t.copy(text = alt(t.turn_idx % alt.length).text))
    }

  /** Compaction parameters that merge the small shards appends create
    * and leave the build's shards alone. */
  def compactParams(root: String): (Long, Long) = {
    val m = IndexManifest.readCached(root).get
    val perShard = math.max(2L, m.nDocs / math.max(1, m.shards.size))
    (2L * perShard, math.max(1L, perShard / 2))
  }

  /** A timing of the report line: its median, plus the highest
    * percentile that leaves at least 10 samples above it (20 or more
    * samples only). */
  def e2eTiming(out: Outcome, name: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      out.table(s"${name}_p50_ms") = M(Stats.median(xs), "ms")
      Stats.tailPercentile(xs.size).foreach { p =>
        out.table(s"${name}_p${p}_ms") = M(Stats.quantile(xs, p / 100.0), "ms")
      }
      out.info(s"${name}_samples") = xs.size
    }
}

/** `query_mix`: the read path (`/api/search`). One closed-loop client
  * issues a seeded stream of queries against an index prebuilt in set-up,
  * waiting for each answer. The stream's shares are fixed by
  * [[QueryGen.mix]]; the result LRU and the serving cache stay off. */
object QueryMix {
  val Turns = 22000
  val Distinct = 48

  def run(ctx: Ctx, out: Outcome): Unit = {
    val a = ctx.args
    val (corpus, nConvs) = Common.conversations(a.seed, 0, ctx.turns(Turns))
    val built = Setup.buildRepeated(ctx, corpus, "query_mix")
    val root = built.root
    val queries = new QueryGen(a.seed, corpus).mix(Distinct)

    // timed region: closed loop, one client, whole 16-query cycles of
    // the stream until the window has passed (the same class mix in
    // every run)
    val answers = mutable.ArrayBuffer.empty[(Int, scala.util.Try[Vector[SearchHit]], Req)]
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    var i = 0
    while (i % QueryGen.Cycle != 0 || System.nanoTime() < deadline) {
      val qi = i % queries.length
      val (res, r) = Common.query(ctx, root, queries(qi))
      answers += ((qi, res, r))
      i += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val heapMb = Ctx.retainedHeapMb()

    // checks, outside the timed region
    val oracle = new Oracle(corpus)
    val expected = mutable.Map.empty[Int, Vector[SearchHit]]
    def expect(qi: Int): Vector[SearchHit] = expected.getOrElseUpdate(qi, queries(qi).expect(oracle))
    answers.zipWithIndex.foreach { case ((qi, res, _), n) =>
      out.attempted += 1
      res match {
        case scala.util.Success(hits0) =>
          val hits = if (a.tamper && n == 0) Ctx.tampered(hits0) else hits0
          if (!Ctx.sameHits(hits, expect(qi))) out.fail(s"wrong answer: ${queries(qi).label}")
        case scala.util.Failure(e) => out.fail(s"${queries(qi).label}: $e")
      }
    }

    val lat = answers.map(_._3.ms).toSeq
    val text = Ctx.textBytes(corpus)
    val idxBytes = Ctx.indexBytes(root)
    out.endToEnd("op_p50_ms") = M(Stats.median(lat), "ms")
    out.endToEnd("ops_per_s") = M(answers.size / elapsedS, "1/s")
    out.endToEnd("index_bytes_per_text_byte") = M(idxBytes.toDouble / text, "ratio")
    out.endToEnd("retained_heap_mb") = M(heapMb, "MB")
    out.endToEnd("setup_s") = M(Stats.median(built.setupS), "s")
    Common.e2eTiming(out, "query", lat)
    // the issue's p95, whatever the sample count; the report says how few
    // samples lie above it
    out.table("query_p95_ms") = M(Stats.quantile(lat, 0.95), "ms")
    out.info("query_p95_samples_above") = lat.count(_ > Stats.quantile(lat, 0.95))
    out.table("queries_per_s") = M(answers.size / elapsedS, "queries/s")
    out.info("class_p50_ms") = answers.groupBy(x => queries(x._1).cls).map { case (c, xs) =>
      c -> Stats.median(xs.map(_._3.ms).toSeq) }.toSeq.sortBy(_._1).toMap
    out.table("build_turns_per_s") = M(corpus.size / Stats.median(built.buildS), "turns/s")
    out.info("corpus") = Map("convs" -> nConvs, "turns" -> corpus.size, "text_bytes" -> text)
    val m = IndexManifest.readCached(root).get
    out.info("index") = Map("bytes" -> idxBytes, "shards" -> m.shards.size, "docs" -> m.nDocs)
    out.info("setup_s_each") = built.setupS
    out.info("build_s_each") = built.buildS

    if (a.trace) {
      val hitsOf = mutable.Map.empty[Long, Int]
      answers.foreach { case (_, res, r) => res.foreach(h => hitsOf(r.id) = h.size) }
      val splits = queries.indices.collect { case qi if queries(qi).isInstanceOf[Query.Terms] =>
        (queries(qi).asInstanceOf[Query.Terms], expect(qi)) }.take(6)
      // every third query of the stream, so the pairs span the classes
      Layers.overhead(ctx, root, queries.indices.filter(_ % 3 == 0).map(qi => (queries(qi), expect(qi))), out)
      Layers.planExecute(ctx, root, splits, out)
      Common.probeQueries(ctx, root, new QueryGen(a.seed + 1, corpus), oracle, hitsOf, out)
      // the read mix runs no commits: one of each, on the same index, so
      // every index layer is measured
      val shardsOf = mutable.Map.empty[Long, Int]
      Ingest.probeCommits(ctx, root, corpus, a.seed, nConvs, shardsOf, out)
      Layers.derive(ctx, root, hitsOf, shardsOf, out)
      Layers.microbenches(corpus, out)
    }
  }
}

/** `ingest_mixed`: writes beside reads (`indexPage` plus search). From an
  * index built in set-up, a seeded sequence alternates time-ordered
  * append micro-batches of new conversations with `replaceTurns` upserts
  * of a block of existing ones, in rounds of [[Round]]; one selective
  * query follows each commit, and `compactShards` (plus two queries)
  * closes each round, merging the round's append shards. Every round asks
  * the same queries in the same slots. One closed-loop client. */
object Ingest {
  val Turns = 22000
  val AppendTurns = 225
  val UpsertTurns = 45
  /** The commits of one round; the compaction that merges the two append
    * shards follows them. */
  val Round = Seq("ingest.append", "ingest.upsert", "ingest.append", "ingest.upsert")
  /** Queries per round: one after each commit, two after the compaction. */
  val Reads = Round.size + 2

  def run(ctx: Ctx, out: Outcome): Unit = {
    val a = ctx.args
    val (initial, initialConvs) = Common.conversations(a.seed, 0, ctx.turns(Turns))
    val built = Setup.buildRepeated(ctx, initial, "ingest_mixed")
    val root = built.root
    val queries = new QueryGen(a.seed, initial).selective(Reads)
    val (maxDocs, smallDocs) = Common.compactParams(root)

    // the live corpus, as the oracle must see it at the end
    val live = mutable.LinkedHashMap.empty[(String, Int), Turn]
    initial.foreach(t => live((t.conv_id, t.turn_idx)) = t)
    var nextConv = initialConvs
    val rng = new scala.util.Random(a.seed * 104729L + 3L)

    val fresh = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Double]
    val hitsOf = mutable.Map.empty[Long, Int]
    val shardsOf = mutable.Map.empty[Long, Int]
    var commits = 0
    var snap = Common.snapshotId(root)

    def commitChecked(kind: String)(f: => Seq[Int]): Unit = {
      out.attempted += 1
      val (res, r) = ctx.request(kind)(f)
      res match {
        case scala.util.Success(shards) =>
          if (kind == "ingest.upsert") shardsOf(r.id) = shards.size
          val now = Common.snapshotId(root)
          val committed = !(kind == "ingest.compact" && shards.isEmpty)
          if (committed && now != snap + 1) out.fail(s"$kind: snapshot $snap -> $now, expected ${snap + 1}")
          if (!committed && now != snap) out.fail(s"$kind: no-op moved snapshot $snap -> $now")
          snap = now
        case scala.util.Failure(e) => out.fail(s"$kind: $e")
      }
    }

    // query `slot` of the round; the first after a commit counts as fresh
    def read(slot: Int, isFresh: Boolean): Unit = {
      val q = queries(slot)
      out.attempted += 1
      val (res, r) = Common.query(ctx, root, q)
      res match {
        case scala.util.Success(h) => hitsOf(r.id) = h.size
        case scala.util.Failure(e) => out.fail(s"${q.label}: $e")
      }
      (if (isFresh) fresh else warm) += r.ms
    }

    // timed region: whole rounds until the window has passed, so every
    // run measures the same operation mix
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      Round.zipWithIndex.foreach { case (kind, slot) =>
        if (kind == "ingest.append") {
          val (batch, next) = Common.conversations(a.seed, nextConv, ctx.turns(AppendTurns))
          nextConv = next
          commitChecked("ingest.append")(IndexMaintenance.appendConversations(ctx.spark, root, batch))
          batch.foreach(t => live((t.conv_id, t.turn_idx)) = t)
        } else {
          val convs = Common.convBlock(rng, live, nextConv, ctx.turns(UpsertTurns))
          val batch = Common.rewritten(a.seed, commits,
            live.valuesIterator.filter(t => convs(t.conv_id)).toVector)
          commitChecked("ingest.upsert")(IndexMaintenance.replaceTurns(ctx.spark, root, batch))
          batch.foreach(t => live((t.conv_id, t.turn_idx)) = t)
        }
        commits += 1
        read(slot, isFresh = true)
      }
      commitChecked("ingest.compact")(IndexMaintenance.compactShards(ctx.spark, root, maxDocs, smallDocs))
      read(Round.size, isFresh = true)
      read(Round.size + 1, isFresh = false)
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val heapMb = Ctx.retainedHeapMb()

    // checks on the final state, outside the timed region
    val corpus = live.valuesIterator.toVector
    val fsck = IndexManifest.readCached(root).get
    val problems = IndexMaintenance.verifyManifest(ctx.spark, root, deep = true)
    out.attempted += 1
    if (problems.nonEmpty) out.fail(s"fsck: ${problems.take(3).mkString("; ")}")
    if (fsck.nDocs != corpus.size) out.fail(s"nDocs ${fsck.nDocs} != ${corpus.size} live turns")
    val oracle = new Oracle(corpus)
    queries.zipWithIndex.foreach { case (q, n) =>
      out.attempted += 1
      scala.util.Try(q.run(ctx.spark, root)) match {
        case scala.util.Success(h0) =>
          val h = if (a.tamper && n == 0) Ctx.tampered(h0) else h0
          if (!Ctx.sameHits(h, q.expect(oracle))) out.fail(s"final state, wrong answer: ${q.label}")
        case scala.util.Failure(e) => out.fail(s"final state, ${q.label}: $e")
      }
    }

    // op_p50_ms: the commits (with two appends and two upserts a round,
    // the midpoint of the slower append and the faster upsert); ops_per_s:
    // every operation, compactions and queries too
    val commitMs = ctx.ms("ingest.append") ++ ctx.ms("ingest.upsert")
    val ops = ctx.reqs.count(r => r.kind.startsWith("ingest.") || r.kind.startsWith("query."))
    val text = Ctx.textBytes(corpus)
    val idxBytes = Ctx.indexBytes(root)
    out.endToEnd("op_p50_ms") = M(Stats.median(commitMs), "ms")
    out.endToEnd("ops_per_s") = M(ops / elapsedS, "1/s")
    out.endToEnd("index_bytes_per_text_byte") = M(idxBytes.toDouble / text, "ratio")
    out.endToEnd("retained_heap_mb") = M(heapMb, "MB")
    out.endToEnd("setup_s") = M(Stats.median(built.setupS), "s")
    Common.e2eTiming(out, "query", (fresh ++ warm).toSeq)
    Common.e2eTiming(out, "append", ctx.ms("ingest.append"))
    Common.e2eTiming(out, "upsert", ctx.ms("ingest.upsert"))
    Common.e2eTiming(out, "fresh_query", fresh.toSeq)
    Common.e2eTiming(out, "compact", ctx.ms("ingest.compact"))
    out.table("build_turns_per_s") = M(initial.size / Stats.median(built.buildS), "turns/s")
    out.info("commits") = commits
    out.info("corpus") = Map("initial_convs" -> initialConvs, "final_turns" -> corpus.size,
      "text_bytes" -> text)
    out.info("index") = Map("bytes" -> idxBytes, "shards" -> fsck.shards.size,
      "docs" -> fsck.nDocs, "snapshot" -> fsck.snapshotId)
    out.info("setup_s_each") = built.setupS
    out.info("build_s_each") = built.buildS
    out.info("commit_ms_each") = ctx.reqs.filter(_.kind.startsWith("ingest.")).map(r => s"${r.kind}:${r.ms.round}")

    if (a.trace) {
      Layers.overhead(ctx, root, queries.map(q => (q, q.expect(oracle))), out)
      Common.probeQueries(ctx, root, new QueryGen(a.seed + 1, initial), oracle, hitsOf, out)
      val splits = queries.collect { case q: Query.Terms => (q, q.expect(oracle)) }.take(6)
      Layers.planExecute(ctx, root, splits, out)
      probeCommits(ctx, root, corpus, a.seed, nextConv, shardsOf, out)
      Layers.derive(ctx, root, hitsOf, shardsOf, out)
      Layers.microbenches(corpus, out)
    }
  }

  /** Traced runs only: one append, one upsert and one compaction — each
    * only if the run has no traced request of that kind yet — so the index
    * layers are measured on every workload. */
  def probeCommits(ctx: Ctx, root: String, corpus: Seq[Turn], seed: Long, nextConv: Int,
                   shardsOf: mutable.Map[Long, Int], out: Outcome): Unit = {
    def has(kind: String) = ctx.reqs.exists(r => r.kind == kind && r.traced)
    def commit(kind: String)(f: => Seq[Int]): Unit = {
      out.attempted += 1
      val before = Common.snapshotId(root)
      val (res, r) = ctx.request(kind)(f)
      res match {
        case scala.util.Success(shards) =>
          if (kind == "ingest.upsert") shardsOf(r.id) = shards.size
          if (shards.nonEmpty && Common.snapshotId(root) != before + 1)
            out.fail(s"probe $kind: snapshot did not rise by one")
        case scala.util.Failure(e) => out.fail(s"probe $kind: $e")
      }
    }
    var next = nextConv
    def newBatch(): Vector[Turn] = {
      val (batch, n) = Common.conversations(seed, next, ctx.turns(AppendTurns))
      next = n
      batch
    }
    if (!has("ingest.append"))
      commit("ingest.append")(IndexMaintenance.appendConversations(ctx.spark, root, newBatch()))
    if (!has("ingest.upsert")) {
      val live = corpus.map(t => (t.conv_id, t.turn_idx) -> t).toMap
      val convs = Common.convBlock(new scala.util.Random(seed), live, nextConv, ctx.turns(UpsertTurns))
      commit("ingest.upsert")(IndexMaintenance.replaceTurns(ctx.spark, root,
        Common.rewritten(seed, 999, corpus.filter(t => convs(t.conv_id)))))
    }
    if (!has("ingest.compact")) {
      // two append shards, so the compaction has shards to merge
      (1 to 2).foreach(_ => IndexMaintenance.appendConversations(ctx.spark, root, newBatch()))
      val (maxDocs, smallDocs) = Common.compactParams(root)
      commit("ingest.compact")(IndexMaintenance.compactShards(ctx.spark, root, maxDocs, smallDocs))
    }
  }
}
