package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `perfbench/run.py` builds and starts it.
  *
  * Usage: Main --workload <query_mix|ingest_mixed> --seed N --seconds S
  *             --trace 0|1 --work DIR [--scale full|tiny] [--tamper 0|1]
  *             [--trace-dir DIR] [--commit ID] [--source-hash H]
  *
  * Prints one report line (`{"perfbench": ...}`: host header, the full
  * end-to-end table, failures, and in a traced run the per-layer figures)
  * and, last, the result line: `correct`, `attempted`, `failed` and
  * `metrics` — the end-to-end metrics untraced, the per-layer ones traced. */
object Main {
  val Workloads = Seq("query_mix", "ingest_mixed")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val probeBefore = Ctx.busyProbe()
    val spark = session(a)
    val code =
      try { run(spark, a, probeBefore); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, probeBefore: Double): Unit = {
    val ctx = new Ctx(spark, a)
    val out = new Outcome
    val gc0 = Layers.gcMsSoFar()
    a.workload match {
      case "query_mix" => QueryMix.run(ctx, out)
      case "ingest_mixed" => Ingest.run(ctx, out)
    }
    if (a.trace) {
      out.layers("spark.gc_ms") = M(Layers.gcMsSoFar() - gc0, "ms")
      ctx.tracer.writeJsonLines(a.traceDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
    }
    out.table("failed_ops_frac") = M(out.failed.toDouble / math.max(1L, out.attempted), "fraction")
    out.endToEnd.foreach { case (k, v) => out.table.getOrElseUpdate(k, v) }

    val host = ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${sys.props("java.version")} (${sys.props("java.vm.name")})",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "commit" -> a.commit,
      "source_sha256" -> a.sourceHash,
      "busy_probe_s_before" -> probeBefore,
      "busy_probe_s_after" -> Ctx.busyProbe())
    val metrics = if (a.trace) out.layers else out.endToEnd
    println(Json.write(ListMap(
      "perfbench" -> "report",
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "scale" -> a.scale, "host" -> host,
      "end_to_end" -> units(out.table),
      "per_layer" -> units(out.layers),
      "info" -> out.info,
      "errors" -> out.errors)))
    println(Json.write(ListMap(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed,
      "metrics" -> units(metrics))))
  }

  private def units(ms: collection.Map[String, M]): collection.Map[String, Any] =
    ms.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder().appName(s"perfbench-${a.workload}")
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    Args(workload = workload, seed = need("seed").toLong, seconds = need("seconds").toInt,
      trace = need("trace") == "1", scale = kv.getOrElse("scale", "full"),
      tamper = kv.get("tamper").contains("1"), work = work,
      traceDir = Paths.get(kv.getOrElse("trace-dir", work.resolve("traces").toString)).toAbsolutePath,
      commit = kv.getOrElse("commit", "unknown"), sourceHash = kv.getOrElse("source-hash", "unknown"))
  }
}
