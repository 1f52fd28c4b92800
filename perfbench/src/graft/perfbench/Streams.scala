package graft.perfbench

import graft.streaming.{HotPathScoring, Sinks, TrendingStream}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import scala.collection.mutable

/** Kafka's record shape as the pipelines read it: `value` bytes plus the
  * broker `timestamp`, which the hot path uses as event time. */
final case class KafkaRow(value: Array[Byte], timestamp: Timestamp)

/** One streaming query's committed micro-batch, read back from its
  * progress: the source offset it read up to (inclusive), its input rows,
  * and the wall-clock millisecond it finished. */
final case class Committed(end: Long, rows: Long, doneMs: Long)

/** The two hot-path queries as the reference deploys them, side by side
  * on one session: video events → [[TrendingStream.momentumPipeline]] →
  * [[Sinks.momentumKvSink]], and profile events → [[HotPathScoring.pipeline]]
  * with the local heuristic scorer. Both read in-memory Kafka-shaped
  * sources with `partitions` partitions per micro-batch, as a topic with
  * that many partitions would. The state TTL is the engine's default.
  */
final class Streams(spark: SparkSession, dir: String, trigger: Trigger,
    partitions: Int, trace: Trace, prefix: String = "") {
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  val videos: MemoryStream[KafkaRow] = MemoryStream[KafkaRow](partitions)
  val profiles: MemoryStream[KafkaRow] = MemoryStream[KafkaRow](partitions)
  val kv = new Sinks.KeyValueTopK
  val topic = new HotPathScoring.TopicBuffer
  val cache = new HotPathScoring.ScoreCache

  val momentum: StreamingQuery = trace.span(s"streaming.start.${prefix}momentum") {
    Sinks.momentumKvSink(TrendingStream.momentumPipeline(videos.toDF()), kv,
      Some(s"$dir/ckpt-momentum"), trigger).queryName(s"${prefix}momentum").start()
  }
  val scoring: StreamingQuery = trace.span(s"streaming.start.${prefix}scoring") {
    HotPathScoring.pipeline(profiles.toDF(),
      () => HotPathScoring.LocalHeuristicScorer, topic, cache,
      trigger = trigger, checkpoint = Some(s"$dir/ckpt-scoring"))
      .queryName(s"${prefix}scoring").start()
  }
  trace.queryNames ++= Map(momentum.id.toString -> s"${prefix}momentum",
    scoring.id.toString -> s"${prefix}scoring")

  /** Rows handed to each source so far. */
  var videoRows = 0L
  var profileRows = 0L

  /** Appends one block per source (skipping empty ones) of events with
    * their broker timestamps; returns the end offsets (-1 when a source
    * got nothing). */
  def add(evs: Seq[(Event, Long)]): (Long, Long) = {
    val (p, v) = evs.partition(_._1.profile)
    def put(src: MemoryStream[KafkaRow], xs: Seq[(Event, Long)]): Long =
      if (xs.isEmpty) -1L
      else offsetOf(src.addData(xs.map { case (e, ts) => KafkaRow(e.value, new Timestamp(ts)) }))
    val vo = trace.span("loadgen.add.videos")(put(videos, v))
    val po = trace.span("loadgen.add.profiles")(put(profiles, p))
    videoRows += v.size; profileRows += p.size
    (vo, po)
  }

  private def offsetOf(o: Any): Long = o.toString.trim.toLong

  def queries: Seq[StreamingQuery] = Seq(momentum, scoring)

  /** The first failure of either query, if one has terminated. */
  def failure: Option[Throwable] =
    queries.flatMap(q => q.exception.toSeq ++
      (if (!q.isActive) Seq(new IllegalStateException(s"query ${q.name} stopped")) else Nil))
      .headOption

  /** Every committed micro-batch of `q` that read data, in order. */
  def committed(q: StreamingQuery): Seq[Committed] =
    q.recentProgress.toSeq.flatMap { p =>
      val s = p.sources.headOption
      val rows = p.numInputRows
      s.filter(_ => rows > 0).map { src =>
        Committed(offsetOf(src.endOffset), rows,
          java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.getOrDefault("triggerExecution", 0L))
      }
    }

  /** Highest source offset `q` has committed, from its last progress. */
  def committedOffset(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .map(s => Option(s.endOffset).filter(_ != "null").map(offsetOf).getOrElse(-1L))
      .getOrElse(-1L)

  /** Blocks until each query has committed its offset in `targets` (a
    * negative target is already met); throws if a query fails or the
    * deadline passes. */
  def awaitCommitted(videoOff: Long, profileOff: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedOffset(momentum) < videoOff || committedOffset(scoring) < profileOff) {
      failure.foreach(e => throw new IllegalStateException("stream failed", e))
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"streams did not commit offsets ($videoOff, $profileOff) within $timeoutMs ms")
      Thread.sleep(2)
    }
  }

  def stop(): Unit = queries.foreach(q => scala.util.Try(q.stop()))

  /** Per-query streaming metrics from progress: trigger phase medians,
    * batch count and size, idle share, and (momentum) state store size. */
  def progressMetrics(name: String, q: StreamingQuery, sinceMs: Long,
      wallMs: Double): mutable.LinkedHashMap[String, Double] = {
    val ps = q.recentProgress.toSeq.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs)
    val data = ps.filter(_.numInputRows > 0)
    def d(k: String, xs: Seq[StreamingQueryProgress]) =
      xs.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)
    val m = mutable.LinkedHashMap[String, Double]()
    val pre = s"streaming.$name"
    m(s"$pre.trigger_ms.p50") = Stats.q(d("triggerExecution", data), 0.5)
    m(s"$pre.trigger_ms.p95") = Stats.q(d("triggerExecution", data), 0.95)
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch")
      .foreach { k =>
        m(s"$pre.${k}_ms.p50") = Stats.q(d(k, data), 0.5)
        m(s"$pre.${k}_share") = d(k, ps).sum / wallMs
      }
    m(s"$pre.batches") = data.size
    m(s"$pre.nodata_batches") = ps.size - data.size
    m(s"$pre.rows_per_batch.p50") = Stats.q(data.map(_.numInputRows.toDouble), 0.5)
    m(s"$pre.idle_share") = math.max(0.0, 1.0 - Stats.covered(ps.map { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      (t, t + p.durationMs.getOrDefault("triggerExecution", 0L))
    }) / wallMs)
    if (name == "momentum") {
      val st = ps.lastOption.flatMap(_.stateOperators.headOption)
      m(s"$pre.state_rows") = st.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      m(s"$pre.state_mem_bytes") = st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      val commits = ps.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)
      m(s"$pre.state_commit_ms.p50") = Stats.q(
        data.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble), 0.5)
      m(s"$pre.state_commit_share") = commits.sum / wallMs
    }
    m
  }
}
