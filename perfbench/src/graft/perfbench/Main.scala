package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload hands back: failed correctness checks (empty = all
  * passed), operations attempted and failed, the measured window, and its
  * end-to-end and (traced run) per-layer metrics. */
final case class Outcome(checks: Seq[String], attempted: Long, failed: Long,
    measureStartMs: Long, endMs: Long,
    e2e: mutable.LinkedHashMap[String, Double],
    layers: mutable.LinkedHashMap[String, Double])

/** A run's context. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Trace, val work: String, val cores: Int)

/** The benchmark's JVM entry point:
  * `Main --workload live|lifecycle|batch --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--cores C]`.
  * Writes one JSON object to `--out`; exits non-zero when a correctness
  * check fails. `Main --selfcheck` checks the input generator instead.
  */
object Main {
  /** Per-layer counts and shares every workload reports: a layer a
    * workload does not call did that work zero times. (Per-layer times that
    * only one workload measures stay in the run record, not in this list.) */
  val ZeroWhenUnused: Seq[String] = Seq(
    "loadgen.backlog_end",
    "streaming.momentum.batches", "streaming.scoring.batches", "streaming.drain_eps",
    "streaming.momentum.rows_per_batch.p50",
    "streaming.momentum.addBatch_share", "streaming.momentum.queryPlanning_share",
    "streaming.momentum.walCommit_share", "streaming.momentum.commitOffsets_share",
    "streaming.momentum.state_commit_share", "streaming.scoring.addBatch_share",
    "streaming.momentum.state_rows", "streaming.momentum.state_mem_bytes",
    "sinks.kv_keys", "sinks.ranking_keys", "sinks.kv_hit_ratio", "etl.fallback_jobs",
    "lifecycle.refresh_jobs", "lifecycle.delete_jobs", "lifecycle.rollback_jobs",
    "lifecycle.refresh_driver_share", "lifecycle.refresh_shuffle_bytes",
    "lifecycle.store_bytes", "queries.jobs", "queries.shuffle_bytes")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selfcheck")) { selfCheck(); return }
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o.getOrElse("trace", "0") == "1"
    val cores = o.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = o("work")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    val trace = new Trace(traced, run, spark.sparkContext)
    val ctx = new Ctx(spark, seed, seconds, trace, work, cores)
    val gcBefore = gcMs()
    val out = workload match {
      case "live" => Live.run(ctx)
      case "lifecycle" => Lifecycle.run(ctx)
      case "batch" => Batch.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    trace.stop()
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (out.measureStartMs - jvmStartMs) / 1000.0)
    e2e ++= out.e2e
    e2e("rss_peak_mb") = vmHwmKb() / 1024.0
    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val wallS = (out.endMs - out.measureStartMs) / 1000.0
      layers ++= trace.sparkTotals(out.measureStartMs, wallS, cores)
      layers("jvm.gc_s") = (gcMs() - gcBefore) / 1000.0
      val inWindow = trace.allSpans.filter(s => trace.toMs(s.startNs) >= out.measureStartMs)
      val self = selfNs(inWindow)
      Seq("loadgen", "streaming", "sinks", "etl", "lifecycle", "queries").foreach { l =>
        layers(s"self_share.$l") = self.getOrElse(l, 0L) / 1e9 / wallS
      }
      layers ++= out.layers
      ZeroWhenUnused.foreach(k => layers.getOrElseUpdate(k, 0.0))
    }
    val json = new StringBuilder("{")
    json.append(s""""workload":"$workload","seed":$seed,"traced":$traced,""")
    json.append(s""""correct":${out.checks.isEmpty},"attempted":${out.attempted},""")
    json.append(s""""failed":${out.failed},"checks":[""")
    json.append(out.checks.map(quote).mkString(",")).append("],")
    json.append(s""""e2e":${obj(e2e)},"layers":${obj(layers)}""")
    if (traced) {
      json.append(",\"spans\":[")
      json.append(trace.allSpans.sortBy(_.startNs).map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${quote(s.name)},""" +
          s""""start_ms":${trace.toMs(s.startNs)},"dur_ms":${(s.endNs - s.startNs) / 1e6},""" +
          s""""run":${quote(s.run)}}""").mkString(","))
      json.append("]")
    }
    json.append("}")
    Files.write(Paths.get(o("out")), json.toString.getBytes(UTF_8))
    spark.stop()
    out.checks.foreach(c => System.err.println(s"CHECK FAILED: $c"))
    System.exit(if (out.checks.isEmpty) 0 else 3)
  }

  /** Self time by layer over the given spans (children outside the set do
    * not reduce their parent's self time). */
  private def selfNs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        (s.endNs - s.startNs) - Stats.covered(c)
      }.sum
    }
  }

  /** Same seed → byte-identical inputs; another seed → different inputs. */
  private def selfCheck(): Unit = {
    def d(seed: Long) = Gen.digest(new Gen(seed, Live.Traffic).events(50000, 1700000000000L))
    val (a, b, other) = (d(11), d(11), d(12))
    println(s"live events: seed 11 -> $a, again -> $b, seed 12 -> $other")
    val corpus = Seq(11L, 11L, 12L).map(s => Lifecycle.corpusDigest(s))
    println(s"lifecycle corpus: seed 11 -> ${corpus(0)}, again -> ${corpus(1)}, " +
      s"seed 12 -> ${corpus(2)}")
    val tables = Seq(11L, 11L, 12L).map(s => Batch.tablesDigest(s))
    println(s"batch tables: seed 11 -> ${tables(0)}, again -> ${tables(1)}, " +
      s"seed 12 -> ${tables(2)}")
    val bad =
      (if (a != b || corpus(0) != corpus(1) || tables(0) != tables(1))
        Seq("same seed gave different inputs") else Nil) ++
        (if (a == other || corpus(0) == corpus(2) || tables(0) == tables(2))
          Seq("different seeds gave the same inputs") else Nil)
    bad.foreach(System.err.println)
    System.exit(if (bad.isEmpty) 0 else 3)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(m: mutable.LinkedHashMap[String, Double]): String =
    m.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString("{", ",", "}")
}
