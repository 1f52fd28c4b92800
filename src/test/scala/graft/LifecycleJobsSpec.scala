package graft

import java.nio.file.Files
import java.util.SplittableRandom
import graft.operators.{Generations, Packing}
import graft.queries.LifecycleOps
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression gate on the lifecycle's per-call Spark job counts: one
  * refreshTo and one deleteDocs over a fixed 2,000-doc corpus at
  * local[4] (4 shuffle partitions) run exactly the pinned number of
  * jobs. A cycle's cost is dominated by its fixed per-job overhead, not
  * its delta, so a job that creeps back in (a 1-row collect, a
  * re-checkpoint, a schema-inference read) is a cost regression even
  * when the wall clock is too noisy to show it. Jobs are counted by a
  * SparkListener under a job group set for the one call, so jobs of
  * other suites sharing the context never count. Also pins that every
  * job carries its lifecycle call's description, that the declared
  * store schemas are exactly what the writers produce, and that a
  * duplicate-id snapshot is rejected before any mutation.
  */
class LifecycleJobsSpec extends SparkSpec {

  private val Words = ("batch part spark line column order small sort fast " +
    "value scan hash slow group agg filter query a the big key window row " +
    "table stream merge data join customer vector").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "es", "fr")

  /** A seeded 2,000-doc corpus in the `documents` table's shape, written
    * where [[LifecycleOps.benchSnapshots]] reads it; returns its dir. */
  private def corpusDir(): String = {
    import sqlImplicits._
    val r = new SplittableRandom(20261018L)
    val rows = (0 until 2000).map { i =>
      val text = Seq.fill(15 + r.nextInt(46))(Words(r.nextInt(Words.length)))
        .mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.length)), "spec", text.length.toLong)
    }
    val dir = Files.createTempDirectory("jobs_corpus").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val (snapA, snapB) = LifecycleOps.benchSnapshots(spark, corpusDir())

  /** The description of every Spark job `body` submits, one per job. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(
            Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "", interruptOnCancel = false)
    sc.setJobDescription(null)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def freshBuild(tag: String): String = {
    val base = Files.createTempDirectory(tag).toString
    LifecycleOps.priorBuild(spark, base, snapA)
    base
  }

  // the counts the folded cycle runs on this corpus (a refresh's delta is
  // snapshot B minus A, a deletion 25 ids only B holds); a change that
  // moves them must say why in CHANGES.md
  private val RefreshJobs = 39
  private val DeleteJobs = 33

  test("one refreshTo and one deleteDocs run exactly their pinned job counts, every job named") {
    val base = freshBuild("jobs_cycle")
    val refresh = jobsOf(LifecycleOps.refreshTo(spark, base, snapB))
    val aIds = snapA.select("doc_id").collect().map(_.getLong(0)).toSet
    import sqlImplicits._
    val onlyB = snapB.select("doc_id").collect().map(_.getLong(0))
      .filterNot(aIds).sorted.take(25).toSeq.toDF("doc_id")
    val delete = jobsOf(LifecycleOps.deleteDocs(spark, base, onlyB))
    assert(refresh.forall(_.startsWith("refreshTo: ")), refresh.mkString("\n"))
    assert(delete.forall(_.startsWith("deleteDocs: ")), delete.mkString("\n"))
    assert(refresh.size == RefreshJobs,
      s"refreshTo ran ${refresh.size} jobs (pinned $RefreshJobs):\n" +
        refresh.mkString("\n"))
    assert(delete.size == DeleteJobs,
      s"deleteDocs ran ${delete.size} jobs (pinned $DeleteJobs):\n" +
        delete.mkString("\n"))
  }

  test("declared store and generation schemas are exactly what the writers produce") {
    val base = freshBuild("jobs_schema")
    LifecycleOps.deleteDocs(spark, base, snapA.select("doc_id").limit(3))
    def inferred(path: String, drop: String*) =
      spark.read.parquet(path).drop(drop: _*).schema
        .map(f => f.name -> f.dataType)
    def declared(s: org.apache.spark.sql.types.StructType) =
      s.map(f => f.name -> f.dataType)
    val g = Generations.dir(base, Generations.current(spark, base).get)
    assert(inferred(s"$base/artifacts", "part") ==
      declared(LifecycleOps.ArtifactSchema))
    assert(inferred(s"$g/pack_input") == declared(LifecycleOps.PackInputSchema))
    assert(inferred(s"$g/manifest") == declared(LifecycleOps.ManifestSchema))
    assert(inferred(s"$base/shards", "shard_id") == declared(Packing.ChunkSchema))
    assert(inferred(s"$base/_tombstones/ids", "batch") ==
      declared(LifecycleOps.TombstoneSchema))
  }

  test("a duplicate-id refresh snapshot is rejected at the diff, before any mutation") {
    val base = freshBuild("jobs_dup")
    val storeRows = LifecycleOps.readArtifacts(spark, base).count()
    val dup: DataFrame = snapB.unionByName(snapB.filter(col("doc_id") === 7L))
    val e = intercept[IllegalArgumentException](
      LifecycleOps.refreshTo(spark, base, dup))
    assert(e.getMessage.contains("duplicate doc_ids"), e.getMessage)
    assert(Generations.committed(spark, base) == Seq(0L))
    assert(LifecycleOps.readArtifacts(spark, base).count() == storeRows)
  }
}
