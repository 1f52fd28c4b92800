package graft.perfbench

import graft.operators.Generations
import graft.queries.LifecycleOps
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `lifecycle`: the cold path, one caller in a closed loop, no streams.
  * Set-up writes a seeded corpus shaped like the sf0.1 `documents` table
  * (5000 docs) and builds generation 0 from snapshot A with
  * [[LifecycleOps.priorBuild]]. Each cycle then refreshes to snapshot B,
  * deletes a seeded subset of the ids only B holds, rolls back to the
  * generation that held A, and reads back the generation datasheet and
  * fsck, [[Cycles]] times.
  */
object Lifecycle {
  val Docs = 2000
  /** One cycle a run, whatever `--seconds` says: a cycle outlasts a 10 s
    * run, and a second one would run warm, a different quantity from the
    * first. The statistic is taken across seeds. */
  val Cycles = 1
  val DeletePerCycle = 25
  val Words: Array[String] = ("batch part spark line column order small sort fast value scan " +
    "hash slow group agg filter query a the big key window row table stream merge data " +
    "join customer vector").split(' ')
  val Langs: Array[String] = Array("en", "en", "en", "zh", "de", "es", "fr")

  /** Seeded corpus rows: (doc_id, text, lang, source, n_chars), 15–60
    * words a doc. */
  def corpusRows(seed: Long): Seq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed)
    (0 until Docs).map { i =>
      val n = 15 + r.nextInt(46)
      val text = Seq.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.length)), "perfbench", text.length.toLong)
    }
  }

  def corpusDigest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    corpusRows(seed).foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def sheetRow(r: Row): Seq[Any] = (1 until r.length).map(r.get)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.trace
    val docsDir = s"${c.work}/docs"
    val base = s"${c.work}/store"
    corpusRows(c.seed).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val (a, b) = LifecycleOps.benchSnapshots(spark, docsDir)
    tr.span("lifecycle.priorBuild")(LifecycleOps.priorBuild(spark, base, a))
    val aIds = a.select("doc_id").as[Long].collect().toSet
    val onlyB = b.select("doc_id").as[Long].collect().filterNot(aIds).sorted
    def sheet(): Map[Long, Seq[Any]] =
      LifecycleOps.generationDatasheet(spark, base).collect()
        .map(r => r.getLong(0) -> sheetRow(r)).toMap
    val r = new SplittableRandom(c.seed * 17 + 3)

    val checks = mutable.ArrayBuffer.empty[String]
    val calls = mutable.ArrayBuffer.empty[(String, Double)]
    val cycles = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    def call[A](name: String)(body: => A): A = {
      attempted += 1
      val t0 = System.nanoTime()
      val out = try tr.span(s"lifecycle.$name")(body)
        catch { case e: Throwable => failed += 1; throw e }
      calls += name -> (System.nanoTime() - t0) / 1e6
      out
    }
    // deletions only ever hit ids that B alone holds, so every rollback to
    // A must reproduce generation 0's datasheet row exactly (B's row moves
    // with the tombstones, so it has no fixed reference)
    var tombs = Set.empty[Long]
    var gen0: Option[Seq[Any]] = None
    val measureStartMs = System.currentTimeMillis()
    var ok = true
    while (ok && cycles.size < Cycles) {
      val t0 = System.nanoTime()
      ok = scala.util.Try {
        val startGen = Generations.current(spark, base).get
        call("refresh")(LifecycleOps.refreshTo(spark, base, b).collect())
        val delIds = Iterator.continually(onlyB(r.nextInt(onlyB.length)))
          .filterNot(tombs).take(DeletePerCycle).toSet
        call("delete")(LifecycleOps.deleteDocs(spark, base,
          delIds.toSeq.toDF("doc_id")).collect())
        tombs ++= delIds
        call("rollback")(LifecycleOps.rollbackTo(spark, base, startGen, a).collect())
        val sh = call("datasheet")(sheet())
        val fsck = call("fsck")(LifecycleOps.fsck(spark, base).collect())
        val cur = Generations.current(spark, base).get
        gen0 = gen0.orElse(sh.get(0L))
        if (gen0.forall(_ != sh(cur)))
          checks += s"rollback to A at gen $cur: datasheet ${sh(cur)} != generation 0's $gen0"
        val dirty = fsck.filter(x => x.getLong(1) != 0L || !x.getBoolean(2))
        if (dirty.nonEmpty) checks += s"fsck not clean: ${dirty.mkString(", ")}"
      }.isSuccess
      if (ok) cycles += (System.nanoTime() - t0) / 1e9
      else checks += "a lifecycle call failed"
    }
    val endMs = System.currentTimeMillis()
    def perCycle(names: String*): Seq[Double] =
      calls.filter(x => names.contains(x._1)).map(_._2).grouped(names.size).map(_.sum).toSeq
    val e2e = mutable.LinkedHashMap[String, Double](
      "latency_ms" -> Stats.q(cycles.map(_ * 1000), 0.5),
      "latency_tail_ms" -> Stats.q(perCycle("refresh"), 0.5),
      "read_ms" -> Stats.q(perCycle("datasheet", "fsck"), 0.5))
    val layers = mutable.LinkedHashMap[String, Double]()
    if (tr.enabled) {
      layers("lifecycle.cycles") = cycles.size
      layers("lifecycle.cycle_s.p50") = Stats.q(cycles, 0.5)
      Seq("refresh", "delete", "rollback", "fsck", "datasheet").foreach { n =>
        layers(s"lifecycle.${n}_s.p50") = Stats.q(tr.durations(s"lifecycle.$n"), 0.5)
      }
      // jobs belong to the lifecycle call whose span they started in (one
      // caller, so time overlap is exact even for unlabelled threads)
      def inSpan(j: JobFacts, s: Span) =
        j.startMs >= tr.toMs(s.startNs) - 1 && j.startMs <= tr.toMs(s.endNs)
      def spansOf(n: String) = tr.allSpans.filter(_.name == s"lifecycle.$n")
      def jobsIn(n: String) = { val ss = spansOf(n); tr.allJobs.filter(j => ss.exists(inSpan(j, _))) }
      val nCycles = math.max(1, cycles.size).toDouble
      Seq("refresh", "delete", "rollback").foreach { n =>
        layers(s"lifecycle.${n}_jobs") = jobsIn(n).size / nCycles
      }
      val rj = jobsIn("refresh")
      val rs = spansOf("refresh")
      val driverS = rs.map { s =>
        val (s0, s1) = (tr.toMs(s.startNs), tr.toMs(s.endNs))
        val cov = Stats.covered(rj.filter(inSpan(_, s))
          .map(j => (math.max(j.startMs, s0), math.min(j.endMs, s1))))
        (s1 - s0 - cov) / 1000.0
      }.sum
      layers("lifecycle.refresh_driver_s") = driverS / nCycles
      layers("lifecycle.refresh_driver_share") =
        driverS / rs.map(s => (s.endNs - s.startNs) / 1e9).sum
      layers("lifecycle.refresh_shuffle_bytes") = rj.map(_.shuffleWriteBytes).sum / nCycles
      layers("lifecycle.store_bytes") = dirBytes(new java.io.File(base)).toDouble
    }
    Outcome(checks.toSeq, attempted, failed, measureStartMs, endMs, e2e, layers)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).fold(0L)(_.map(dirBytes).sum)
}
