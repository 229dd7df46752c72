package graft.perfbench

import scala.collection.mutable

import graft.analysis.Analyzer
import graft.index.{DocIdAssigner, IndexManifest, PostingCodec}
import graft.model.{QuerySpec, SearchHit, Turn}
import graft.query.{SearchEngine, Wand}

/** Per-layer measurements of a traced run: driver-side microbenches over
  * the run's own corpus (analysis, codec, WAND walk), the plan/execute
  * split of AND/OR requests, and the figures derived from spans and Spark
  * events. Layer names follow the repo's modules: `analysis`, `index`,
  * `query`, plus the Spark runtime. */
object Layers {
  private val Passes = 5

  /** Median over [[Passes]] timed passes of `work` (which returns the
    * amount of work it did), as work per second. */
  private def ratePerS(work: () => Long): Double = {
    work() // warm-up pass
    Stats.median((1 to Passes).map { _ =>
      val t0 = System.nanoTime()
      val n = work()
      n / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** One term's postings in docId order, as the builder would see them. */
  final case class TermList(term: String, docIds: Array[Long], tfs: Array[Int],
                            dls: Array[Int], positions: Array[Array[Int]])

  /** Inverts the corpus on the driver with the engine's analyzer and the
    * engine's docId order ((conv_id, turn_idx), UTF-8 byte order). */
  def invert(corpus: Seq[Turn]): (Vector[TermList], Long, Double) = {
    val docs = corpus.sortWith { (a, b) =>
      val c = DocIdAssigner.utf8Compare(a.conv_id, b.conv_id)
      if (c != 0) c < 0 else a.turn_idx < b.turn_idx
    }
    val acc = mutable.HashMap.empty[String, (mutable.ArrayBuilder.ofLong,
      mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofInt, mutable.ArrayBuffer[Array[Int]])]
    var sumDl = 0L
    docs.iterator.zipWithIndex.foreach { case (t, d) =>
      val toks = Analyzer.tokens(t.text)
      sumDl += toks.length
      toks.zipWithIndex.groupBy(_._1).foreach { case (term, occ) =>
        val e = acc.getOrElseUpdate(term, (new mutable.ArrayBuilder.ofLong,
          new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt, mutable.ArrayBuffer.empty))
        e._1 += d.toLong; e._2 += occ.length; e._3 += toks.length
        e._4 += occ.map(_._2).sorted.toArray
      }
    }
    val lists = acc.iterator.map { case (term, (d, tf, dl, ps)) =>
      TermList(term, d.result(), tf.result(), dl.result(), ps.toArray)
    }.toVector.sortBy(_.term)
    (lists, docs.length.toLong, sumDl.toDouble / math.max(1, docs.length))
  }

  /** Driver-side microbenches over the run's corpus. */
  def microbenches(corpus: Seq[Turn], out: Outcome): Unit = {
    val texts = corpus.map(_.text).toIndexedSeq
    out.layers("analysis.tokens_per_s") =
      M(ratePerS(() => texts.iterator.map(t => Analyzer.tokens(t).length.toLong).sum), "1/s")

    val (lists, nDocs, avgdl) = invert(corpus)
    val postings = lists.iterator.map(_.docIds.length.toLong).sum
    out.layers("index.codec_encode_postings_per_s") = M(ratePerS { () =>
      lists.foreach(l => PostingCodec.encodeBlocked(l.docIds, l.tfs, l.dls, positions = l.positions))
      postings
    }, "1/s")
    val encoded = lists.map(l =>
      l.term -> PostingCodec.encodeBlocked(l.docIds, l.tfs, l.dls, positions = l.positions)).toMap
    out.layers("index.codec_decode_postings_per_s") = M(ratePerS { () =>
      var n = 0L
      encoded.valuesIterator.foreach { b =>
        val c = new PostingCodec.BlockedCursor(b)
        while (!c.exhausted) { n += 1; c.advance() }
      }
      n
    }, "1/s")

    // WAND walks over cursors on the encoded lists: AND over mid+hot
    // pairs, OR over three head terms (fixed term sets of the generator).
    val dfOf = lists.map(l => l.term -> l.docIds.length.toLong).toMap
    def cursors(terms: Seq[String]): Seq[Wand.TermCursor] = {
      val present = terms.filter(encoded.contains).distinct.sortBy(t => (dfOf(t), t))
      present.zipWithIndex.map { case (t, i) =>
        new Wand.TermCursor(Wand.TermPostings(t, dfOf(t), i, IndexedSeq(encoded(t))), nDocs, avgdl)
      }
    }
    def walkRate(sets: Seq[Seq[String]], walk: Seq[Wand.TermCursor] => Vector[SearchHit]): Double =
      ratePerS { () =>
        sets.iterator.map { ts =>
          val cs = cursors(ts)
          if (cs.isEmpty) 0L else { walk(cs); cs.map(_.df).sum }
        }.sum
      }
    val andSets = (0 until 20).map(i => Seq(f"w${100 + 37 * i}%04d", f"w${i % 10}%04d"))
    val orSets = (0 until 20).map(i => Seq(f"w${i}%04d", f"w${i + 10}%04d", f"w${i + 20}%04d"))
    out.layers("query.wand_and_postings_per_s") = M(walkRate(andSets, Wand.andTopK(_, 10)), "1/s")
    out.layers("query.wand_or_postings_per_s") = M(walkRate(orSets, Wand.orTopK(_, 10)), "1/s")
  }

  /** AND/OR requests issued as `statsOf` → `plan` → `executePlan` — what
    * `SearchEngine.query` does with no filter or scope — in spans of their
    * own; the hits must equal the expected answer. */
  def planExecute(ctx: Ctx, root: String, qs: Seq[(Query.Terms, Vector[SearchHit])],
                  out: Outcome): Unit = {
    qs.foreach { case (q, expected) =>
      out.attempted += 1
      val (res, _) = ctx.request("probe.split") {
        ctx.probe("index.manifest_resolve")(IndexManifest.readCached(root))
        val stats = SearchEngine.statsOf(ctx.spark, root)
        val terms = Analyzer.analyzeQueryFor(stats.analyzerVersion, q.text)
        val p = ctx.span("query.plan") {
          SearchEngine.plan(ctx.spark, root, QuerySpec(terms, q.mode, q.k), stats)
        }
        ctx.span("query.execute") {
          if (p.terms.isEmpty) Vector.empty[SearchHit]
          else SearchEngine.executePlan(ctx.spark, root, p, stats)
        }
      }
      if (!res.toOption.exists(Ctx.sameHits(_, expected)))
        out.fail(s"plan/execute split differs from the expected answer: ${q.label}")
    }
  }

  private def spanMs(ctx: Ctx, name: String): Seq[Double] =
    ctx.tracer.spans.filter(_.name == name).map(_.ms).toSeq

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-layer figures derived from the traced requests' spans and Spark
    * events. `hitsOf` maps a query request id to the number of hits it
    * returned; `shardsOf` an upsert request id to its rewritten shards. */
  def derive(ctx: Ctx, root: String, hitsOf: collection.Map[Long, Int],
             shardsOf: collection.Map[Long, Int], out: Outcome): Unit = {
    val rec = ctx.recorder
    val traced = ctx.reqs.filter(_.traced).toSeq
    val L = out.layers

    L("index.manifest_resolve_us") = M(med(spanMs(ctx, "index.manifest_resolve")) * 1000.0, "us")

    // build: set-up builds, per Spark stage kind (shuffle-map stages do
    // analysis and the docId range shuffle; result stages invert, encode
    // and write)
    val builds = traced.filter(_.kind == "setup.build")
    def buildKind(mapSide: Boolean): (Double, Double) = {
      val per = builds.map { r =>
        val ts = rec.tasksOf(r.id).filter(_.shuffleMap == mapSide)
        val total = ts.map(_.runMs.toDouble).sum
        val byStage = ts.groupBy(_.stageId).values.toSeq
        val skew = if (byStage.isEmpty) 1.0 else {
          val heavy = byStage.maxBy(_.map(_.runMs).sum)
          val m = Stats.median(heavy.map(_.runMs.toDouble))
          heavy.map(_.runMs).max / math.max(1.0, m)
        }
        (total, skew)
      }
      (med(per.map(_._1)), med(per.map(_._2)))
    }
    val (mapMs, mapSkew) = buildKind(mapSide = true)
    val (resMs, resSkew) = buildKind(mapSide = false)
    L("index.build_task_ms.shuffle_map") = M(mapMs, "ms")
    L("index.build_task_ms.result") = M(resMs, "ms")
    L("index.build_task_skew.shuffle_map") = M(mapSkew, "ratio")
    L("index.build_task_skew.result") = M(resSkew, "ratio")
    L("index.build_shuffle_bytes") =
      M(med(builds.map(r => rec.tasksOf(r.id).map(_.shuffleWrite.toDouble).sum)), "bytes")
    L("index.build_spill_bytes") =
      M(med(builds.map(r => rec.tasksOf(r.id).map(_.spill.toDouble).sum)), "bytes")
    // per call site, for the report line only (names follow the code)
    out.info("build_stages") = builds.flatMap(r => rec.tasksOf(r.id)).groupBy(t => SparkRecorder.callSite(t.stageName))
      .map { case (site, ts) =>
        val byStage = ts.groupBy(_.stageId).values.toSeq
        site -> Map(
          "task_ms_per_build" -> ts.map(_.runMs).sum.toDouble / math.max(1, builds.size),
          "skew" -> byStage.map { s =>
            s.map(_.runMs).max / math.max(1.0, Stats.median(s.map(_.runMs.toDouble)))
          }.max)
      }.toSeq.sortBy(_._1).toMap

    val m = IndexManifest.readCached(root).get
    L("index.bytes_per_posting") =
      M(m.shards.map(_.bytes).sum.toDouble / math.max(1L, m.shards.map(_.postings).sum), "bytes")

    val appends = traced.filter(_.kind == "ingest.append")
    L("index.append_jobs") = M(med(appends.map(r => rec.jobsOf(r.id).size.toDouble)), "count")
    L("index.append_driver_ms") =
      M(med(appends.map(r => rec.driverSelfMs(r.id, r.wallStartMs, r.wallEndMs))), "ms")
    val upserts = traced.filter(_.kind == "ingest.upsert")
    L("index.upsert_shards_rewritten") =
      M(med(upserts.map(r => shardsOf.getOrElse(r.id, 0).toDouble)), "count")
    L("index.upsert_task_ms") =
      M(med(upserts.map(r => rec.tasksOf(r.id).map(_.runMs.toDouble).sum)), "ms")
    val compacts = traced.filter(_.kind == "ingest.compact")
    L("index.compact_ms") = M(med(compacts.map(_.ms)), "ms")
    L("index.compact_bytes_rewritten") =
      M(med(compacts.map(r => rec.tasksOf(r.id).map(_.bytesWritten.toDouble).sum)), "bytes")
    L("index.live_shards") = M(m.shards.size.toDouble, "count")

    val queries = traced.filter(_.kind.startsWith("query."))
    Query.Classes.foreach { c =>
      L(s"query.${c}_p50_ms") = M(med(queries.filter(_.kind == s"query.$c").map(_.ms)), "ms")
    }
    L("query.plan_ms") = M(med(spanMs(ctx, "query.plan")), "ms")
    L("query.execute_ms") = M(med(spanMs(ctx, "query.execute")), "ms")

    def perQuery(f: Req => Double): Double =
      if (queries.isEmpty) 0.0 else queries.map(f).sum / queries.size
    L("spark.jobs_per_query") = M(perQuery(r => rec.jobsOf(r.id).size), "count")
    L("spark.tasks_per_query") = M(perQuery(r => rec.tasksOf(r.id).size), "count")
    L("spark.task_ms_per_query") = M(perQuery(r => rec.tasksOf(r.id).map(_.runMs).sum), "ms")
    L("spark.sched_wait_ms_per_query") = M(perQuery(r => rec.tasksOf(r.id).map(_.waitMs).sum), "ms")
    L("spark.driver_self_ms_per_query") =
      M(perQuery(r => rec.driverSelfMs(r.id, r.wallStartMs, r.wallEndMs)), "ms")
    L("spark.bytes_read_per_query") = M(perQuery(r => rec.tasksOf(r.id).map(_.bytesRead).sum), "bytes")
    val rows = queries.map(r => rec.tasksOf(r.id).map(_.rowsRead).sum).sum
    val hits = queries.map(r => hitsOf.getOrElse(r.id, 0).toLong).sum
    L("spark.rows_read_per_hit") = M(rows.toDouble / math.max(1L, hits), "ratio")
    L("spark.shuffle_bytes_per_query") =
      M(perQuery(r => rec.tasksOf(r.id).map(_.shuffleWrite).sum), "bytes")
    L("spark.failed_tasks") = M(rec.tasks.count(_.failed).toDouble, "count")

    out.info("self_ms_by_span") = ctx.tracer.selfMs.toSeq.sortBy(_._1).toMap
    out.info("trace_spans") = ctx.tracer.spans.size
  }

  /** Total JVM collection time so far, in ms (driver and local executors
    * share the JVM). */
  def gcMsSoFar(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  }

  /** Query pairs of the overhead probe. */
  val OverheadPairs = 6

  /** `trace.overhead_pct`: after the timed region, the same queries run
    * in pairs on the settled index, once untraced and once traced (which
    * goes first alternates), up to [[OverheadPairs]] pairs; the traced
    * median over the untraced median, minus one, in percent. The answers
    * are checked like every other. */
  def overhead(ctx: Ctx, root: String, qs: Seq[(Query, Vector[SearchHit])], out: Outcome): Unit = {
    val runs = qs.take(OverheadPairs).zipWithIndex.flatMap { case ((q, expected), i) =>
      Seq(i % 2 == 1, i % 2 == 0).map { traced =>
        out.attempted += 1
        val (res, r) = Common.query(ctx, root, q, "overhead.query", Some(traced))
        if (!res.toOption.exists(Ctx.sameHits(_, expected))) out.fail(s"overhead probe: ${q.label}")
        (traced, r.ms)
      }
    }
    val t = runs.filter(_._1).map(_._2)
    val u = runs.filterNot(_._1).map(_._2)
    out.layers("trace.overhead_pct") = M((Stats.median(t) / Stats.median(u) - 1.0) * 100.0, "%")
    out.info("trace_overhead_ms") = Map("traced" -> t, "untraced" -> u)
  }
}
