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
  * Usage: Query <indexRoot> <queryText> [--mode AND|OR|SHOULD|PHRASE|NEAR|PREFIX|FUZZY|WILDCARD]
  *        [--k N] [--slop N] [--ordered] [--edits N] [--prefix-len N] [--min-match N]
  *        [--not <terms>] [--should <terms>] [--role X] [--tool Y] [--from ts] [--to ts]
  *        [--after <cursor>] [--conv <prefix> | --scopes p1,p2] [--snapshot N]
  *        | Query <root> '<lucene query>' --lucene
  * The flags build ONE [[graft.query.Query]] tree, answered by ONE
  * [[SearchEngine.search]] call:
  *  - AND → `Bool(must)`, OR → `Bool(should, minShould 1)`; SHOULD →
  *    `Bool(should, minShould = --min-match)`: documents containing at
  *    least N of the query's distinct terms, scored over the present
  *    terms — a term the index has never seen still counts toward the
  *    requirement (Lucene parity: an unsatisfiable clause is not dropped);
  *  - `--not "<terms>"` (AND mode only) adds MUST_NOT clauses: every
  *    document containing ANY of them is excluded, scores stay the
  *    positives-only BM25 sums; `--should "<terms>"` (AND mode only, r7)
  *    adds OPTIONAL clauses, which ADD score on candidates that hold them,
  *    with `--min-match N` as minimumShouldMatch (default 0: optional
  *    clauses only boost) — the combined Lucene BooleanQuery;
  *  - PHRASE → `Bool(phrase)`: an exact phrase over the analyzed token
  *    stream; NEAR → `Bool(phrase ~ --slop)`: all terms within a window of
  *    --slop+1 consecutive positions (default slop 2); add --ordered for
  *    Lucene inOrder semantics (the window must contain the query tokens
  *    as a SUBSEQUENCE — order and duplicates kept). NOTE the window is
  *    slop+1 WIDE: adjacency needs --slop 1, unlike Lucene's unordered
  *    SpanNearQuery where slop 0 already matches adjacent terms (Lucene
  *    slop s ≈ our slop s+1 for two terms — ADVICE r05 item 3);
  *  - PREFIX / FUZZY / WILDCARD → `Expand`: a dictionary prefix (`merg`
  *    for merge/merged), every term within --edits Levenshtein edits
  *    (default 2, max 2 — Lucene FuzzyQuery limits; --prefix-len pins the
  *    first N chars, Lucene prefixLength), or a glob (`*` = any sequence,
  *    `?` = one char, e.g. `w00*3`);
  *  - `--lucene` (r7) puts the WHOLE query in one Lucene-style string —
  *    `+must should -not "phrase"~slop role:x tool:y ts:[a TO b]` —
  *    parsed by graft.query.QueryParser into the same tree; the other
  *    query flags must then be absent (--min-match/--scopes/--snapshot
  *    still apply).
  * Typed field filters (r7, Lucene FILTER clauses): `--role X` / `--tool
  * Y` (case-insensitive exact match) and `--from <ts>` / `--to <ts>`
  * (inclusive; epoch millis or yyyy-MM-dd[[T| ]HH:mm:ss], always read as
  * UTC regardless of the JVM zone) restrict candidates WITHOUT touching
  * scores or statistics; they need a fields-enabled index (the build
  * default). `--scopes a,b` scopes any query (per-scope statistics,
  * best-instance union); `--conv p` is the one-scope spelling kept for
  * plain AND/OR and excludes --scopes. `--snapshot N` time-travels every
  * query. An argument that is not one of these flags (or a flag's value)
  * refuses, so a typo never runs some other query. Every refusal happens
  * before the Spark session starts.
  */
object Query {
  private val usage =
    "usage: Query <indexRoot> <queryText> [--mode AND|OR|SHOULD|PHRASE|NEAR|PREFIX|FUZZY|WILDCARD] " +
    "[--k N] [--slop N] [--ordered] [--edits N] [--prefix-len N] [--min-match N] " +
    "[--not <terms>] [--should <terms>] [--role X] [--tool Y] [--from ts] [--to ts] " +
    "[--after <cursor>] [--conv <prefix> | --scopes p1,p2] [--snapshot N] " +
    "| Query <root> '<lucene query>' --lucene"

  private val valueFlags = Set("--mode", "--k", "--slop", "--edits",
    "--prefix-len", "--min-match", "--not", "--should", "--role", "--tool",
    "--from", "--to", "--after", "--conv", "--scopes", "--snapshot")
  private val switchFlags = Set("--ordered", "--lucene")

  /** The first argument after `<root> <query>` that is neither a known
    * flag nor a value flag's value. */
  @scala.annotation.tailrec
  private def unknownArg(rest: List[String]): Option[String] = rest match {
    case f :: tail if valueFlags(f) => unknownArg(tail.drop(1))
    case f :: tail if switchFlags(f) => unknownArg(tail)
    case other :: _ => Some(other)
    case Nil => None
  }

  def main(args: Array[String]): Unit = {
    import graft.query.Query.{Bool, Expand, Fuzzy, Phrase, Prefix, Wildcard}
    val a = args.toVector
    def opt(name: String): Option[String] =
      a.indexOf(name) match { case -1 => None; case i => a.lift(i + 1) }
    // bad input dies with the USAGE string, not a bare exception
    // (ADVICE r05 item 2)
    def refuse(why: String): Nothing = sys.error(s"$why — $usage")
    if (a.size < 2) sys.error(usage)
    unknownArg(a.drop(2).toList).foreach(x => refuse(s"unknown argument '$x'"))
    val root = a(0)
    val q = a(1)
    val mode = opt("--mode").getOrElse("AND").toUpperCase
    // an unknown mode must die with the usage, not run some other mode
    if (!Set("AND", "OR", "SHOULD", "PHRASE", "NEAR", "PREFIX", "FUZZY",
        "WILDCARD").contains(mode))
      refuse(s"unknown --mode '$mode'")
    // Int options parse with toIntOption DIRECTLY — a Long-then-toInt
    // chain would silently truncate 2^32 to 0 and pass the >= 0 checks
    // (r6 review)
    def numOpt(name: String): Option[Long] = opt(name).map { s =>
      s.toLongOption.getOrElse(refuse(s"$name expects an integer, got '$s'"))
    }
    def intOpt(name: String): Option[Int] = opt(name).map { s =>
      s.toIntOption.getOrElse(refuse(s"$name expects a 32-bit integer, got '$s'"))
    }
    val k = intOpt("--k").getOrElse(10)
    if (k < 1) refuse(s"--k must be >= 1, got $k")
    val lucene = a.contains("--lucene")
    val conv = opt("--conv")
    val scopeList = opt("--scopes").map(_.split(",").toSeq.filter(_.nonEmpty))
    // both would name the scopes (one would be silently dropped)
    if (conv.nonEmpty && scopeList.nonEmpty) refuse("--conv and --scopes both name the scopes; pass one")
    val scopes = scopeList.orElse(conv.map(Seq(_))).getOrElse(Nil)
    val snapshot = numOpt("--snapshot") // time travel (retained only)
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
    require(mode == "SHOULD" || shouldText.isDefined || lucene ||
      opt("--min-match").isEmpty,
      "--min-match only applies to SHOULD mode, --should or --lucene queries")
    // a trailing --min-match (value forgotten) must fail loudly, not
    // silently run with the default (the --not guard's rule, r7 review)
    require(!a.contains("--min-match") ||
      opt("--min-match").exists(!_.startsWith("--")),
      "--min-match expects a number (missing value?)")
    // SHOULD mode needs at least one match; with --should/--lucene the
    // default is Lucene's 0 (the engine applies the at-least-one rule
    // itself when no required clause exists)
    val minFloor = if (mode == "SHOULD") 1 else 0
    val minMatch = intOpt("--min-match").getOrElse(minFloor)
    require(minMatch >= minFloor, s"--min-match must be >= $minFloor, got $minMatch")
    // typed field filters (r7): epoch millis or yyyy-MM-dd[[T| ]HH:mm:ss],
    // parsed AS UTC via the shared TsParse (Timestamp.valueOf would read
    // the JVM-local zone and silently shift the window — r7 review)
    def tsOpt(name: String): Option[java.sql.Timestamp] = opt(name).map { v =>
      graft.query.TsParse.utcTimestamp(v).getOrElse(refuse(
        s"$name expects epoch millis or yyyy-MM-dd[[T| ]HH:mm:ss] UTC, got '$v'"))
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
      parsed.getOrElse(refuse(s"--after expects the cursor token a previous " +
        s"page printed (<scoreBits>:<docId>), got '$v'"))
    }
    require(after.isEmpty ||
      (Set("AND", "OR", "SHOULD").contains(mode) || lucene) && scopes.isEmpty,
      "--after pages AND/OR/SHOULD/--should/--not/--lucene term queries " +
      "only, without --conv/--scopes")
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
    require(conv.isEmpty || Set("AND", "OR").contains(mode) &&
      shouldText.isEmpty && notText.isEmpty && qFilter.isEmpty && !lucene,
      s"--conv applies to plain AND/OR term queries only, not to " +
      s"$mode/--should/--not/filters/--lucene (use --scopes)")
    val slop = intOpt("--slop").getOrElse(2)
    require(slop >= 0, s"--slop must be >= 0, got $slop (window width = slop+1)")
    require(mode == "FUZZY" ||
      (opt("--edits").isEmpty && opt("--prefix-len").isEmpty),
      "--edits/--prefix-len only apply to FUZZY mode")
    val edits = intOpt("--edits").getOrElse(2)
    require(edits >= 0 && edits <= SearchEngine.MaxFuzzyEdits,
      s"--edits must be in [0, ${SearchEngine.MaxFuzzyEdits}] " +
      s"(Lucene FuzzyQuery limit), got $edits")
    val prefixLen = intOpt("--prefix-len").getOrElse(0)
    require(prefixLen >= 0, s"--prefix-len must be >= 0, got $prefixLen")
    // --lucene (r7): every other query flag must be ABSENT (its meaning
    // lives in the string)
    require(!lucene || (opt("--mode").isEmpty && notText.isEmpty &&
        shouldText.isEmpty && qFilter.isEmpty),
      "--lucene puts the whole query in the string: it does not combine " +
      "with --mode/--not/--should/--role/--tool/--from/--to/--conv " +
      "(--min-match, --scopes and --snapshot still apply)")
    val (tree, filter) =
      if (lucene) {
        val (b, f) = graft.query.QueryParser.parse(q)
        (b.copy(minShould = minMatch), f)
      } else (mode match {
        case "AND" => Bool(Vector(q), shouldText.toVector, notText.toVector, None, minMatch)
        case "OR" => Bool(should = Vector(q), minShould = 1)
        case "SHOULD" => Bool(should = Vector(q), minShould = minMatch)
        case "PHRASE" => Bool(phrase = Some(Phrase(q)))
        case "NEAR" => Bool(phrase = Some(Phrase(q, Some(slop), a.contains("--ordered"))))
        case "PREFIX" => Expand(Prefix, q)
        case "FUZZY" => Expand(Fuzzy(edits, prefixLen), q)
        case _ => Expand(Wildcard, q)
      }, qFilter)
    // pin the historical manifest BEFORE querying: the preview below must
    // not re-resolve it after the query (a concurrent writer's expiry
    // between the two would crash with a raw FileNotFound instead of the
    // loud retention message). Validate retention FIRST for the same
    // reason — an already-expired snapshot must surface the loud
    // retained-versions message, not a raw FileNotFoundException from
    // this pre-pin (ADVICE r04 item 4). Wrapping the parse, and the query
    // below, in withExpiryDiagnosis turns both an already-expired
    // snapshot and an expiry racing them into the loud retention message.
    val pinned = snapshot.map { v =>
      val retained = graft.index.IndexManifest.versions(root)
      require(retained.contains(v),
        s"snapshot $v not available at $root (expired or never " +
        s"committed); retained: ${retained.mkString(",")}")
      SearchEngine.withExpiryDiagnosis(root, v) {
        graft.index.IndexManifest.readVersionCached(root, v)
      }
    }
    def diagnosed(body: => Vector[graft.model.SearchHit]) = pinned match {
      case Some(m) => SearchEngine.withExpiryDiagnosis(root, m.snapshotId)(body)
      case None => body
    }
    val spark = CliSession.session("graft-query")
    val t0 = System.nanoTime()
    val hits = diagnosed(SearchEngine.search(spark, root, tree, k, scopes,
      pinned, filter, after))
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
    val pageable = scopes.isEmpty &&
      (tree match { case b: Bool => b.phrase.isEmpty; case _ => false })
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
