package graft.cli

import org.apache.spark.sql.SparkSession

import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.query.SearchEngine

/** spark-submit entrypoints (SURVEY.md §7.1 `cli/`): index build + query.
  * In the sandbox these run through sbt `runMain`; on a cluster the same
  * mains go through spark-submit (SparkSession.builder honors submit-time
  * master/conf and only falls back to local[*]).
  */
object CliSession {
  def session(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    val withMaster = // respect spark-submit's master; default local
      if (sys.props.contains("spark.master")) b
      else b.master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Build an inverted index.
  * Usage: BuildIndex <indexRoot> (--transcripts <parquet>| --gen <nConvs>)
  *        [--shards N] [--wave N] [--cancel-file <path>]
  *
  * `--cancel-file`: the stopIndexing analog (reference ApiController
  * .java:33-37) — touch the named file to stop the build at the next wave
  * boundary; every committed wave survives and rerunning the same command
  * resumes from the last manifest snapshot.
  */
object BuildIndex {
  def main(args: Array[String]): Unit = {
    val a = args.toVector
    def opt(name: String): Option[String] =
      a.indexOf(name) match { case -1 => None; case i => a.lift(i + 1) }
    val root = a.headOption.getOrElse(sys.error(
      "usage: BuildIndex <indexRoot> (--transcripts <parquet> | --gen <nConvs>) [--shards N] [--wave N] [--cancel-file <path>]"))
    val spark = CliSession.session("graft-build-index")
    import spark.implicits._
    // bounded int parses with the usage string, not a bare
    // NumberFormatException / silent Long truncation (r6 review)
    def intOpt(name: String): Option[Int] = opt(name).map { v =>
      v.toIntOption.getOrElse(sys.error(s"$name expects a 32-bit integer, got '$v'"))
    }
    val turns = (opt("--transcripts"), opt("--gen")) match {
      case (Some(path), _) => spark.read.parquet(path).as[graft.model.Turn]
      case (_, Some(n)) => TranscriptGen.dataset(spark, seed = 42L,
        nConvs = n.toLongOption.getOrElse(sys.error(s"--gen expects an integer, got '$n'")))
      case _ => sys.error("one of --transcripts <parquet> or --gen <nConvs> is required")
    }
    val shards = intOpt("--shards").getOrElse(IndexBuilder.DefaultShards)
    val wave = intOpt("--wave").getOrElse(16)
    val cancelCheck: () => Boolean = opt("--cancel-file") match {
      case Some(p) => () => new java.io.File(p).exists() // operator flag, driver-local
      case None => () => false
    }
    val t0 = System.nanoTime()
    val built = IndexBuilder.build(spark, turns, root, shards = shards,
      waveSize = wave, stem = a.contains("--stem"),
      positions = a.contains("--positions"), cancelCheck = cancelCheck)
    val secs = (System.nanoTime() - t0) / 1e9
    val m = built.manifest
    println(f"built index at $root: snapshot=${m.snapshotId} docs=${m.nDocs} " +
      f"avgdl=${m.avgdl}%.2f shards=${m.completedShards.size} " +
      f"postings=${m.shards.map(_.postings).sum} bytes=${m.shards.map(_.bytes).sum} " +
      f"in $secs%.1fs (${m.nDocs / secs}%.0f docs/s)")
    spark.stop()
  }
}

/** Query a built index.
  * Usage: Query <indexRoot> <queryText> [--mode AND|OR|PHRASE|NEAR|PREFIX|FUZZY|WILDCARD]
  *        [--k N] [--slop N] [--edits N] [--prefix-len N] [--naive]
  *        [--scopes p1,p2] [--snapshot N]
  * PHRASE mode treats <queryText> as an exact phrase over the analyzed
  * token stream (SearchEngine.phraseTopK); NEAR matches all terms within
  * a window of --slop+1 consecutive positions (default slop 2,
  * SearchEngine.nearTopK); add --ordered for Lucene inOrder semantics
  * (the window must contain the query tokens as a SUBSEQUENCE — order
  * and duplicates kept). NOTE the window is slop+1 WIDE: adjacency
  * needs --slop 1, unlike Lucene's unordered SpanNearQuery where slop 0
  * already matches adjacent terms (Lucene slop s ≈ our slop s+1 for two
  * terms — ADVICE r05 item 3). PREFIX treats <queryText> as a dictionary
  * prefix pattern, e.g. `merg` for merge/merged (SearchEngine.prefixTopK).
  * FUZZY expands <queryText> to every dictionary term within --edits
  * Levenshtein edits (default 2, max 2 — Lucene FuzzyQuery limits;
  * --prefix-len pins the first N chars exactly, Lucene prefixLength).
  * WILDCARD treats <queryText> as a glob over the dictionary (`*` = any
  * sequence, `?` = one char, e.g. `w00*3`). `--not "<terms>"` (AND mode
  * only) excludes every document containing ANY of the given terms —
  * Lucene BooleanQuery MUST + MUST_NOT; scores stay the positives-only
  * BM25 sums. SHOULD mode (Lucene BooleanQuery optional clauses) matches
  * documents containing at least `--min-match N` of the query's distinct
  * terms, scored over the present terms — min-match 1 is OR, min-match =
  * #terms is AND of the same terms; a term the index has never seen
  * still counts toward the requirement (Lucene parity: an unsatisfiable
  * clause is not dropped). `--should "<terms>"` (AND mode only, r7)
  * builds the COMBINED BooleanQuery — MUST (the query) + SHOULD (these
  * optional terms, which ADD score on candidates that hold them) +
  * optional `--not` MUST_NOT, with `--min-match N` as
  * minimumShouldMatch (default 0: optional clauses only boost).
  * Typed field filters (r7, Lucene FILTER
  * clauses): `--role X` / `--tool Y` (case-insensitive exact match) and
  * `--from <ts>` / `--to <ts>` (inclusive; epoch millis or
  * yyyy-MM-dd[[T| ]HH:mm:ss], always read as UTC regardless of the
  * JVM zone) restrict candidates WITHOUT touching
  * scores or statistics; they compose with every mode, --scopes and
  * --snapshot, and need a fields-enabled index (the build default).
  * `--lucene` (r7) puts the WHOLE query in one Lucene-style string —
  * `+must should -not "phrase"~slop role:x tool:y ts:[a TO b]` —
  * parsed by graft.query.QueryParser onto the same executors; the other
  * query flags must then be absent (--min-match/--scopes/--snapshot
  * still apply).
  */
object Query {
  def main(args: Array[String]): Unit = {
    val a = args.toVector
    def opt(name: String): Option[String] =
      a.indexOf(name) match { case -1 => None; case i => a.lift(i + 1) }
    if (a.size < 2) sys.error(
      "usage: Query <indexRoot> <queryText> [--mode AND|OR|SHOULD|PHRASE|NEAR|PREFIX|FUZZY|WILDCARD] " +
      "[--k N] [--slop N] [--ordered] [--edits N] [--prefix-len N] [--min-match N] " +
      "[--not <terms>] [--should <terms>] [--role X] [--tool Y] [--from ts] [--to ts] " +
      "[--naive] [--conv <prefix>] [--snapshot N] | Query <root> '<lucene query>' --lucene")
    val root = a(0)
    val q = a(1)
    val mode = opt("--mode").getOrElse("AND").toUpperCase
    // numeric options die with the USAGE string, not a bare
    // NumberFormatException (ADVICE r05 item 2); Int options parse with
    // toIntOption DIRECTLY — a Long-then-toInt chain would silently
    // truncate 2^32 to 0 and pass the >= 0 checks (r6 review)
    val usage =
      "usage: Query <indexRoot> <queryText> [--mode AND|OR|SHOULD|PHRASE|NEAR|PREFIX|FUZZY|WILDCARD] " +
      "[--k N] [--slop N] [--ordered] [--edits N] [--prefix-len N] [--min-match N] " +
      "[--not <terms>] [--should <terms>] [--role X] [--tool Y] [--from ts] [--to ts] " +
      "[--naive] [--conv <prefix>] [--snapshot N] | Query <root> '<lucene query>' --lucene"
    // an unknown mode must die with the usage, not run some other mode
    if (!Set("AND", "OR", "SHOULD", "PHRASE", "NEAR", "PREFIX", "FUZZY",
        "WILDCARD").contains(mode))
      sys.error(s"unknown --mode '$mode' — " + usage)
    def numOpt(name: String): Option[Long] = opt(name).map { s =>
      s.toLongOption.getOrElse(sys.error(
        s"$name expects an integer, got '$s' — " + usage))
    }
    def intOpt(name: String): Option[Int] = opt(name).map { s =>
      s.toIntOption.getOrElse(sys.error(
        s"$name expects a 32-bit integer, got '$s' — " + usage))
    }
    val k = intOpt("--k").getOrElse(10)
    require(k > 0, s"--k must be > 0, got $k")
    val conv = opt("--conv")
    val scopes = opt("--scopes").map(_.split(",").toSeq.filter(_.nonEmpty))
    val snapshot = numOpt("--snapshot") // time travel (retained only)
    require(snapshot.isEmpty || !a.contains("--naive"),
      "--snapshot cannot be combined with --naive (the naive backstop " +
      "always answers from the current snapshot); drop one of them")
    val spark = CliSession.session("graft-query")
    // pin the historical manifest BEFORE querying: the preview below must
    // not re-resolve it after the query (a concurrent writer's expiry
    // between the two would crash with a raw FileNotFound instead of the
    // loud retention message). Validate retention FIRST for the same
    // reason — an already-expired snapshot must surface the loud
    // retained-versions message, not a raw FileNotFoundException from
    // this pre-pin (ADVICE r04 item 4).
    // readVersionCached shares the parse with queryAt below (one LIST +
    // one manifest read per invocation, not two of each); wrapping in
    // withExpiryDiagnosis turns both an already-expired snapshot and an
    // expiry racing this pre-pin into the loud retention message.
    val pinned = snapshot.map { v =>
      val retained = graft.index.IndexManifest.versions(root)
      require(retained.contains(v),
        s"snapshot $v not available at $root (expired or never " +
        s"committed); retained: ${retained.mkString(",")}")
      // expiry can still win the race between the listing above and a
      // cold-cache parse — diagnose that as the loud retention error too
      SearchEngine.withExpiryDiagnosis(root, v) {
        graft.index.IndexManifest.readVersionCached(root, v)
      }
    }
    val t0 = System.nanoTime()
    require(!Set("SHOULD", "PHRASE", "NEAR", "PREFIX", "FUZZY", "WILDCARD").contains(mode) ||
      (conv.isEmpty && !a.contains("--naive")),
      s"$mode mode does not combine with --naive/--conv (use --scopes)")
    // combined BooleanQuery (r7): --should adds OPTIONAL clauses to an
    // AND query (+ optional --not) — Lucene's general MUST + SHOULD +
    // MUST_NOT form; --min-match then means minimumShouldMatch
    // (default 0: optional clauses only boost)
    val shouldText = opt("--should")
    require(!a.contains("--should") || shouldText.isDefined,
      "--should expects a term list (missing value?)")
    require(shouldText.forall(!_.startsWith("--")),
      s"--should expects a term list, got '${shouldText.getOrElse("")}' (missing value?)")
    require(shouldText.isEmpty || mode == "AND",
      "--should requires --mode AND (Lucene BooleanQuery MUST + SHOULD)")
    require(shouldText.isEmpty || (conv.isEmpty && !a.contains("--naive")),
      "--should does not combine with --naive/--conv (use --scopes)")
    require(mode == "SHOULD" || shouldText.isDefined ||
      a.contains("--lucene") || opt("--min-match").isEmpty,
      "--min-match only applies to SHOULD mode, --should or --lucene queries")
    // a trailing --min-match (value forgotten) must fail loudly, not
    // silently run with the default (the --not guard's rule, r7 review)
    require(!a.contains("--min-match") ||
      opt("--min-match").exists(!_.startsWith("--")),
      "--min-match expects a number (missing value?)")
    // Lucene default for an all-optional BooleanQuery: at least one
    // SHOULD clause must match; with MUST clauses present the default
    // is 0 (optional clauses boost without eliminating) — queryBool
    // applies the at-least-one rule itself when no MUST survives
    val boolStyle = shouldText.isDefined || a.contains("--lucene")
    val minMatch = intOpt("--min-match").getOrElse(if (boolStyle) 0 else 1)
    require(minMatch >= (if (boolStyle) 0 else 1),
      s"--min-match must be >= ${if (boolStyle) 0 else 1}, got $minMatch")
    // typed field filters (r7): epoch millis or yyyy-MM-dd[[T| ]HH:mm:ss],
    // parsed AS UTC via the shared TsParse (Timestamp.valueOf would read
    // the JVM-local zone and silently shift the window — r7 review)
    def tsOpt(name: String): Option[java.sql.Timestamp] = opt(name).map { v =>
      graft.query.TsParse.utcTimestamp(v).getOrElse(sys.error(
        s"$name expects epoch millis or yyyy-MM-dd[[T| ]HH:mm:ss] UTC, " +
        s"got '$v' — " + usage))
    }
    Seq("--role", "--tool", "--from", "--to").foreach { f =>
      require(!a.contains(f) || opt(f).exists(!_.startsWith("--")),
        s"$f expects a value (missing?)")
    }
    val qFilter = graft.model.QueryFilter(
      role = opt("--role"), tool = opt("--tool"),
      tsFrom = tsOpt("--from"), tsTo = tsOpt("--to"))
    // search_after page cursor (r7): the OPAQUE token the previous page
    // printed (`next: --after <scoreBits>:<docId>`) — raw IEEE-754 bits,
    // NOT the rounded printed score, so ties at the page boundary
    // paginate exactly
    val after: Option[graft.model.SearchHit] = opt("--after").map { v =>
      val parts = v.split(":", 2)
      val parsed = for {
        bits <- if (parts.length == 2) parts(0).toLongOption else None
        doc <- parts(1).toLongOption
      } yield graft.model.SearchHit(doc, java.lang.Double.longBitsToDouble(bits))
      parsed.getOrElse(sys.error(
        s"--after expects the cursor token a previous page printed " +
        s"(<scoreBits>:<docId>), got '$v' — " + usage))
    }
    require(after.isEmpty ||
      (Set("AND", "OR", "SHOULD").contains(mode) || a.contains("--lucene")) &&
        conv.isEmpty && scopes.isEmpty && !a.contains("--naive"),
      "--after pages AND/OR/SHOULD/--should/--not/--lucene term queries " +
      "only, without --conv/--scopes/--naive")
    require(qFilter.isEmpty || (conv.isEmpty && !a.contains("--naive")),
      "field/ts filters do not combine with --naive/--conv (use --scopes)")
    // mode checks FIRST, then the slop parse/range (ADVICE r05 item 2:
    // 'Query ... --mode AND --slop abc' must say --slop is NEAR-only, not
    // die in toInt; NEAR with a bad/negative slop gets the usage message)
    require(mode == "NEAR" || opt("--slop").isEmpty,
      "--slop only applies to NEAR mode")
    require(mode == "NEAR" || !a.contains("--ordered"),
      "--ordered only applies to NEAR mode")
    val notText = opt("--not")
    // a missing value would otherwise swallow the NEXT flag as the NOT
    // text, analyze it to an unknown token and SILENTLY exclude nothing;
    // and a TRAILING --not (no next arg at all) would parse to None and
    // silently run as plain AND — both must fail loudly (ADVICE r06)
    require(!a.contains("--not") || notText.isDefined,
      "--not expects a term list (missing value?)")
    require(notText.forall(!_.startsWith("--")),
      s"--not expects a term list, got '${notText.getOrElse("")}' (missing value?)")
    require(notText.isEmpty || mode == "AND",
      "--not requires --mode AND (Lucene BooleanQuery MUST + MUST_NOT)")
    require(notText.isEmpty || (conv.isEmpty && !a.contains("--naive")),
      "--not does not combine with --naive/--conv (use --scopes)")
    val slop = intOpt("--slop").getOrElse(2)
    require(slop >= 0, s"--slop must be >= 0, got $slop (window width = slop+1)")
    require(mode == "FUZZY" ||
      (opt("--edits").isEmpty && opt("--prefix-len").isEmpty),
      "--edits/--prefix-len only apply to FUZZY mode")
    val edits = intOpt("--edits").getOrElse(2)
    require(edits >= 0 && edits <= graft.query.SearchEngine.MaxFuzzyEdits,
      s"--edits must be in [0, ${graft.query.SearchEngine.MaxFuzzyEdits}] " +
      s"(Lucene FuzzyQuery limit), got $edits")
    val prefixLen = intOpt("--prefix-len").getOrElse(0)
    require(prefixLen >= 0, s"--prefix-len must be >= 0, got $prefixLen")
    val proxScopes = scopes.getOrElse(Nil)
    // time travel composes with every mode: the pre-pinned manifest rides
    // into the query, and mid-query expiry overtakes surface the loud
    // retention contract, exactly like queryAt
    def diagnosed(body: => Vector[graft.model.SearchHit]) = pinned match {
      case Some(m) => SearchEngine.withExpiryDiagnosis(root, m.snapshotId)(body)
      case None => body
    }
    // --lucene (r7): the whole query in ONE Lucene-style string —
    // +must should -not "phrase"~slop role:x tool:y ts:[a TO b] —
    // parsed by QueryParser onto the same executors; every other query
    // flag must then be ABSENT (its meaning lives in the string)
    require(!a.contains("--lucene") ||
      (opt("--mode").isEmpty && notText.isEmpty && shouldText.isEmpty &&
        qFilter.isEmpty && conv.isEmpty && !a.contains("--naive")),
      "--lucene puts the whole query in the string: it does not combine " +
      "with --mode/--not/--should/--role/--tool/--from/--to/--conv/--naive " +
      "(--min-match, --scopes and --snapshot still apply)")
    val hits =
      if (a.contains("--lucene"))
        diagnosed(graft.query.QueryParser.search(spark, root, q, k,
          minMatch, proxScopes, pinned, after))
      else if (mode == "PHRASE")
        diagnosed(SearchEngine.phraseTopK(spark, root, q, k, proxScopes,
          pinned, qFilter))
      else if (mode == "NEAR")
        diagnosed(SearchEngine.nearTopK(spark, root, q, slop, k, proxScopes,
          pinned, ordered = a.contains("--ordered"), filter = qFilter))
      else if (mode == "PREFIX")
        diagnosed(SearchEngine.prefixTopK(spark, root, q, k, proxScopes,
          pinned, qFilter))
      else if (mode == "FUZZY")
        diagnosed(SearchEngine.fuzzyTopK(spark, root, q, edits, k, prefixLen,
          proxScopes, pinned, qFilter))
      else if (mode == "WILDCARD")
        diagnosed(SearchEngine.wildcardTopK(spark, root, q, k, proxScopes,
          pinned, qFilter))
      else if (mode == "SHOULD")
        diagnosed(SearchEngine.queryShould(spark, root, q, minMatch, k,
          proxScopes, pinned, qFilter, after))
      else if (shouldText.isDefined)
        diagnosed(SearchEngine.queryBool(spark, root, q, shouldText.get,
          notText.getOrElse(""), minMatch, k, proxScopes, pinned, qFilter,
          after))
      else if (notText.isDefined)
        diagnosed(SearchEngine.queryNot(spark, root, q, notText.get, k,
          proxScopes, pinned, qFilter, after))
      else if (a.contains("--naive"))
        SearchEngine.queryNaive(spark, root, q, mode, k).collect()
          .map(r => graft.model.SearchHit(r.getLong(0), r.getDouble(1))).toVector
      else (snapshot, scopes.orElse(conv.map(Seq(_)))) match {
        case (Some(v), ss) =>
          SearchEngine.queryAt(spark, root, v, q, mode, k, ss.getOrElse(Nil),
            qFilter, after)
        case (None, Some(ss)) =>
          SearchEngine.queryScoped(spark, root, q, mode, k, ss, qFilter)
        case _ =>
          SearchEngine.query(spark, root, q, mode, k, None, qFilter, after)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val modeLabel =
      if (mode == "NEAR" && a.contains("--ordered")) s"ONEAR~$slop"
      else if (mode == "NEAR") s"NEAR~$slop"
      else if (mode == "FUZZY") s"FUZZY~$edits"
      else if (mode == "SHOULD") s"SHOULD>=$minMatch"
      else if (shouldText.isDefined)
        s"BOOL SHOULD(${shouldText.get})>=$minMatch" +
          notText.map(n => s" NOT($n)").getOrElse("")
      else if (notText.isDefined) s"AND NOT(${notText.get})" else mode
    val filterLabel = if (qFilter.isEmpty) "" else " +filter"
    println(f"query='$q' mode=$modeLabel$filterLabel k=$k → ${hits.size} hits in $ms%.0f ms")
    // hit previews must come from the SAME snapshot the hits did
    val docs = pinned match {
      case Some(m) =>
        import spark.implicits._
        graft.index.IndexSnapshot.docs(spark, root, m).as[graft.model.Doc]
      case None => graft.index.IndexBuilder.loadDocs(spark, root)
    }
    val byId = if (hits.isEmpty) Map.empty[Long, String] else {
      import org.apache.spark.sql.functions.col
      docs.filter(col("docId").isin(hits.map(_.docId): _*))
        .collect().map(d => d.docId -> d.text).toMap
    }
    hits.zipWithIndex.foreach { case (h, i) =>
      val preview = byId.getOrElse(h.docId, "").take(80)
      println(f"${i + 1}%2d. doc=${h.docId}%-8d score=${h.score}%.6f  $preview")
    }
    // deep paging (r7, Lucene searchAfter): a FULL page means more may
    // follow — print the exact-bits cursor for the next page. Offset
    // pagination re-walks everything it skips; the cursor walk stays
    // O(k) at any depth, the 100 TB-serving shape.
    val pageable = ((Set("AND", "OR", "SHOULD").contains(mode) &&
      !a.contains("--naive") && !a.contains("--lucene")) ||
      shouldText.isDefined ||
      (a.contains("--lucene") && !q.contains("\""))) &&
      conv.isEmpty && scopes.isEmpty
    if (pageable && hits.size == k)
      hits.lastOption.foreach { h =>
        println(s"  next: --after " +
          s"${java.lang.Double.doubleToLongBits(h.score)}:${h.docId}")
      }
    spark.stop()
  }
}

/** Incremental index maintenance — the CLI analog of the reference's
  * `POST /api/indexPage` / delete endpoints (IndexingServiceImpl.java:
  * 126-138). Subcommands:
  *
  *   Maintain <root> delete --convs a,b,c
  *   Maintain <root> append --transcripts <parquet> [--shards N]
  *   Maintain <root> replace --transcripts <parquet>
  *   Maintain <root> compact [--max-docs N]  (merge micro-batch shard
  *                                        fragments — Lucene-merge /
  *                                        rewrite_data_files analog;
  *                                        docIds and results unchanged)
  *   Maintain <root> expire [--keep N]   (reclaim generations outside the
  *                                        retention window — Iceberg's
  *                                        expire_snapshots analog; the
  *                                        per-op auto-expire keeps 2)
  *   Maintain <root> fsck                (full recompute of the
  *                                        incrementally-rolled corpus
  *                                        totals + shard stamps)
  */
object Maintain {
  def main(args: Array[String]): Unit = {
    val a = args.toVector
    def opt(name: String): Option[String] =
      a.indexOf(name) match { case -1 => None; case i => a.lift(i + 1) }
    if (a.size < 2) sys.error(
      "usage: Maintain <root> (delete --convs a,b | append --transcripts p [--shards N] | replace --transcripts p | compact [--max-docs N] | expire [--keep N] | fsck)")
    val root = a(0)
    val cmd = a(1)
    val spark = CliSession.session("graft-maintain")
    import spark.implicits._
    val affected = cmd match {
      case "compact" =>
        // merge micro-batch shards (Lucene-merge / rewrite_data_files analog)
        graft.index.IndexMaintenance.compactShards(spark, root,
          opt("--max-docs").map(v => v.toLongOption.getOrElse(
            sys.error(s"--max-docs expects an integer, got '$v'"))).getOrElse(4000000L))
      case "expire" =>
        graft.index.IndexSnapshot.expireSnapshots(spark, root,
          opt("--keep").map(v => v.toIntOption.getOrElse(
            sys.error(s"--keep expects a 32-bit integer, got '$v'"))).getOrElse(2))
        Nil
      case "fsck" =>
        // full recompute of every incrementally-rolled total/stamp,
        // including the dictionary (deep)
        val problems = graft.index.IndexMaintenance.verifyManifest(spark, root,
          deep = true)
        if (problems.isEmpty) println("fsck: clean")
        else { problems.foreach(p => println(s"fsck: $p")); sys.error("fsck failed") }
        Nil
      case "delete" =>
        val convs = opt("--convs").getOrElse(sys.error("--convs required"))
          .split(",").filter(_.nonEmpty).toSet
        graft.index.IndexMaintenance.deleteConversations(spark, root, convs)
      case "append" =>
        val p = opt("--transcripts").getOrElse(sys.error("--transcripts required"))
        // Dataset-native: a 100M-turn backfill never touches the driver
        graft.index.IndexMaintenance.appendConversationsDs(spark, root,
          spark.read.parquet(p).as[graft.model.Turn],
          newShards = opt("--shards").map(v => v.toIntOption.getOrElse(
            sys.error(s"--shards expects a 32-bit integer, got '$v'"))).getOrElse(1))
      case "replace" =>
        val p = opt("--transcripts").getOrElse(sys.error("--transcripts required"))
        graft.index.IndexMaintenance.replaceTurnsDs(spark, root,
          spark.read.parquet(p).as[graft.model.Turn])
      case other => sys.error(s"unknown subcommand '$other'")
    }
    val m = graft.index.IndexManifest.read(root).get
    val label = if (cmd == "compact") "absorbed shards" else "affected shards"
    println(s"maintain $cmd: $label=${affected.mkString(",")} " +
      s"snapshot=${m.snapshotId} docs=${m.nDocs}")
    spark.stop()
  }
}
