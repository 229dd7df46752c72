package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexManifest, IndexSnapshot}
import graft.model.{SearchHit, Turn}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scale: String, tamper: Boolean, work: Path, traceDir: Path,
                      commit: String, sourceHash: String)

/** One finished request: its kind, whether it ran traced, its latency and
  * its wall-clock interval (for matching Spark job times). */
final case class Req(id: Long, kind: String, traced: Boolean, ms: Double,
                     wallStartMs: Long, wallEndMs: Long)

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back to [[Main]]. `endToEnd` holds the metrics
  * named in BENCHMARK.json's `end_to_end`; `table` the fuller end-to-end
  * table (per-operation medians, tails, failed_ops_frac); `layers` the
  * per-layer metrics of a traced run. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, M]
  val table = mutable.LinkedHashMap.empty[String, M]
  val layers = mutable.LinkedHashMap.empty[String, M]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }
}

/** Shared state of one benchmark run: the session, the request log and,
  * in a traced run, the span tracer and the Spark event recorder.
  *
  * Tracing: in a traced run every request runs traced (spans + Spark
  * listener) unless it asks otherwise, as the paired overhead probe
  * ([[Layers.overhead]]) does. Untraced runs never register the listener
  * or record spans. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  val tracer = new Tracer
  val recorder = new SparkRecorder
  val reqs = mutable.ArrayBuffer.empty[Req]
  private var reqSeq = 0L
  private var current: Option[Long] = None

  /** A size in turns: `full`, or a fiftieth of it (at least 4) for the
    * self-test's tiny scale. */
  def turns(full: Int): Int = if (args.scale == "tiny") math.max(4, full / 50) else full

  /** Runs one request and logs its latency; `traced` defaults to the
    * run's `--trace`. */
  def request[A](kind: String, traced: Boolean = args.trace)(f: => A): (Try[A], Req) = {
    reqSeq += 1
    val id = reqSeq
    if (traced) {
      sc.addSparkListener(recorder)
      sc.setLocalProperty(SparkRecorder.ReqKey, id.toString)
      current = Some(id)
    }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = Try(if (traced) tracer.span(kind, id)(f) else f)
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    if (traced) {
      current = None
      sc.setLocalProperty(SparkRecorder.ReqKey, null)
      SparkRecorder.drain(sc)
      sc.removeSparkListener(recorder)
    }
    val r = Req(id, kind, traced, (t1 - t0) / 1e6, w0, w1)
    reqs += r
    (a, r)
  }

  /** A child span of the current traced request; a plain call otherwise. */
  def span[A](name: String)(f: => A): A = current match {
    case Some(req) => tracer.span(name, req)(f)
    case None => f
  }

  /** A call made only to be timed, inside a traced request: the
    * benchmark's own probe of a layer, which untraced requests skip. */
  def probe(name: String)(f: => Any): Unit = current.foreach(req => tracer.span(name, req)(f))

  def ms(kind: String): Seq[Double] = reqs.filter(_.kind == kind).map(_.ms).toSeq

  def dir(name: String): String = {
    val p = args.work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

object Ctx {
  /** A single-threaded fixed loop, timed in seconds: a probe of how busy
    * the host is, recorded beside each run and never used to discard one. */
  def busyProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 300000000L) { x += i * 31; i += 1 }
    if (x == 42) println(x)
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def textBytes(turns: Iterable[Turn]): Long =
    turns.iterator.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  /** Bytes of every file the current snapshot references: its docs and
    * postings shard dirs, its dictionary generation and its manifest. */
  def indexBytes(root: String): Long = {
    val m = IndexManifest.readCached(root).get
    val dirs = IndexSnapshot.docsPaths(root, m) ++ IndexSnapshot.postingsPaths(root, m) :+
      IndexSnapshot.termStatsPath(root, m)
    val manifest = Paths.get(root, f"manifest-v${m.snapshotId}%05d.json")
    dirs.map(d => treeBytes(Paths.get(d))).sum + Files.size(manifest)
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** Exact hit-list equality: same docIds in the same order, bit-equal scores. */
  def sameHits(a: Seq[SearchHit], b: Seq[SearchHit]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId &&
        java.lang.Double.doubleToLongBits(x.score) == java.lang.Double.doubleToLongBits(y.score)
    }

  /** The self-test's deliberate corruption: the last hit's score moves
    * by one ulp (or an empty answer gains a bogus hit). */
  def tampered(hits: Vector[SearchHit]): Vector[SearchHit] =
    if (hits.isEmpty) Vector(SearchHit(0L, 1.0))
    else hits.init :+ hits.last.copy(score = Math.nextUp(hits.last.score))
}

/** The set-up every workload shares: write the seeded corpus to parquet
  * and bulk-build a positional index from it (the `startIndexing` path,
  * `IndexBuilder.build` with positions and fields on and the default
  * shard count). It runs [[Setup.Reps]] times; `setup_s` is the median and
  * the last index is kept. */
object Setup {
  val Reps = 2

  final case class Built(root: String, setupS: Seq[Double], buildS: Seq[Double])

  def buildRepeated(ctx: Ctx, corpus: Vector[Turn], name: String): Built = {
    import ctx.spark.implicits._
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    var root = ""
    (1 to Reps).foreach { i =>
      if (root.nonEmpty) Ctx.deleteTree(root)
      val input = ctx.dir(s"$name-corpus-$i")
      root = ctx.dir(s"$name-index-$i")
      val t0 = System.nanoTime()
      ctx.request("setup.corpus") {
        ctx.spark.createDataset(corpus).write.parquet(input)
      }._1.get // a failed set-up fails the run
      val (res, r) = ctx.request("setup.build") {
        ctx.span("index.build") {
          IndexBuilder.build(ctx.spark, ctx.spark.read.parquet(input).as[Turn], root,
            positions = true, fields = true)
        }
        ctx.probe("index.manifest_resolve")(IndexManifest.readCached(root))
      }
      res.get
      setupS += (System.nanoTime() - t0) / 1e9
      buildS += r.ms / 1000.0
      Ctx.deleteTree(input)
    }
    Built(root, setupS.toSeq, buildS.toSeq)
  }
}
