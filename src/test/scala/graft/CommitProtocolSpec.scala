package graft

import java.nio.file.Files
import graft.operators.{Generations, Packing}
import graft.queries.LifecycleOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash safety of the lifecycle commit protocol (VERDICT r13 #2):
  * a refresh cycle killed between EVERY pair of writes leaves the
  * prior generation current, and a re-run converges to exactly the
  * uninterrupted run's state — manifest hash, shard-disk audit,
  * generation history. Plus the harder case the dirty marker exists
  * for: a crash mid-shard-rewrite followed by a refresh to a
  * DIFFERENT target (where the boundary-restricted prefix assumption
  * is false) detects the signature mismatch and repairs against the
  * disk-derived manifest.
  */
class CommitProtocolSpec extends SparkSpec {

  // a halved corpus keeps the five-build suite fast; the machinery
  // under test is identical at any size
  private def docs: DataFrame =
    Tables.documents(spark, sf("sf0.001"))
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("doc_id", "text", "lang")

  private def snapA(all: DataFrame, cut: Long): DataFrame =
    all.filter(col("doc_id") < cut)

  private def snapB(all: DataFrame, cut: Long): DataFrame =
    all.select(col("doc_id"),
      when(col("doc_id") === cut - 2, concat(col("text"), lit(" v2")))
        .otherwise(col("text")).as("text"), col("lang"))

  private def manifestRows(df: DataFrame) = df
    .select("shard_id", "n_chunks", "n_tokens", "shard_fp")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3))).sortBy(_._1).toSeq

  private def assertCleanAudit(base: String, label: String): Unit = {
    val audit = Packing.auditShards(spark, s"$base/shards",
      LifecycleOps.currentManifest(spark, base))
    assert(audit.filter(!col("fp_match") || !col("chunks_match") ||
      !col("tokens_match")).count() == 0L, s"$label: dirty shard audit")
  }

  test("a refresh killed between every pair of writes converges on re-run") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val (a, b) = (snapA(all, cut), snapB(all, cut))

    val refBase = Files.createTempDirectory("commit_ref").toString
    LifecycleOps.priorBuild(spark, refBase, a)
    LifecycleOps.refreshTo(spark, refBase, b)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))

    for (kp <- Seq("after-artifacts", "after-pack-input", "after-shards",
        "after-manifest")) {
      val base = Files.createTempDirectory(s"commit_$kp").toString
      LifecycleOps.priorBuild(spark, base, a)
      val e = intercept[RuntimeException] {
        LifecycleOps.refreshTo(spark, base, b, failAt = Some(kp))
      }
      assert(e.getMessage.contains(kp))
      // the crash never moved the commit pointer
      assert(Generations.current(spark, base).contains(0L),
        s"$kp: commit pointer moved before the marker write")
      // the re-run converges to the uninterrupted run
      LifecycleOps.refreshTo(spark, base, b)
      assert(Generations.committed(spark, base) == Seq(0L, 1L),
        s"$kp: unexpected generation history")
      assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
        s"$kp: re-run diverged from the uninterrupted run")
      assertCleanAudit(base, kp)
    }
  }

  test("a deletion killed at every point converges AND keeps its tombstones") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val a = snapA(all, cut)
    // delete a mid-stream slice so the boundary-restricted repack has
    // real work at every kill point
    val delIds = a.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id")
    val wantTombs = delIds.collect().map(_.getLong(0)).toSet
    assert(wantTombs.nonEmpty)

    val refBase = Files.createTempDirectory("delkill_ref").toString
    LifecycleOps.priorBuild(spark, refBase, a)
    LifecycleOps.deleteDocs(spark, refBase, delIds)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))

    for (kp <- Seq("after-tombstones", "after-artifacts", "after-pack-input",
        "after-shards", "after-manifest")) {
      val base = Files.createTempDirectory(s"delkill_$kp").toString
      LifecycleOps.priorBuild(spark, base, a)
      val e = intercept[RuntimeException] {
        LifecycleOps.deleteDocs(spark, base, delIds, failAt = Some(kp))
      }
      assert(e.getMessage.contains(kp))
      assert(Generations.current(spark, base).contains(0L),
        s"$kp: commit pointer moved before the marker write")
      // the durable right-to-be-forgotten record outlives the crash:
      // tombstones are the FIRST write of the cycle, so they are on
      // disk at every kill point
      val survived = graft.streaming.IndexMaintenance
        .tombstoneIds(spark, base)
        .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
      assert(survived == wantTombs,
        s"$kp: tombstones did not survive the crash")
      // the re-run converges to the uninterrupted deletion
      LifecycleOps.deleteDocs(spark, base, delIds)
      assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
        s"$kp: re-run diverged from the uninterrupted deletion")
      assertCleanAudit(base, s"delete-$kp")
    }
  }

  test("a cycle killed after its repack releases every checkpoint it took") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val (a, b) = (snapA(all, cut), snapB(all, cut))
    val base = Files.createTempDirectory("commit_release").toString
    LifecycleOps.priorBuild(spark, base, a)
    // at these points the cycle holds the diff, survivors, tail-chunk,
    // shard-diff and result checkpoints: a failed cycle hands out no
    // result, so none of them may stay behind
    for (kp <- Seq("after-shards", "after-manifest"))
      assertReleases(s"refreshTo killed at $kp", allowed = 0) {
        val e = intercept[RuntimeException] {
          LifecycleOps.refreshTo(spark, base, b, failAt = Some(kp))
        }
        assert(e.getMessage.contains(kp))
      }
    assertReleases("deleteDocs killed at after-manifest", allowed = 0) {
      intercept[RuntimeException] {
        LifecycleOps.deleteDocs(spark, base,
          a.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
          failAt = Some("after-manifest"))
      }
    }
    assert(Generations.current(spark, base).contains(0L))
  }

  test("a rollback killed at every point leaves the prior generation " +
      "current, and the re-run lands the recorded state whole") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val (a, b) = (snapA(all, cut), snapB(all, cut))

    // the recorded target: generation 0's own manifest
    val refBase = Files.createTempDirectory("rbkill_ref").toString
    LifecycleOps.priorBuild(spark, refBase, a)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))

    for (kp <- Seq("after-artifacts", "after-pack-input", "mid-repair",
        "after-shards", "after-manifest")) {
      val base = Files.createTempDirectory(s"rbkill_$kp").toString
      LifecycleOps.priorBuild(spark, base, a)
      LifecycleOps.refreshTo(spark, base, b)
      val e = intercept[RuntimeException] {
        LifecycleOps.rollbackTo(spark, base, 0L, a, failAt = Some(kp))
      }
      assert(e.getMessage.contains(kp))
      // every kill point precedes the commit marker: the pre-rollback
      // generation is still current (the rollback never half-lands)
      assert(Generations.current(spark, base).contains(1L),
        s"$kp: a killed rollback moved the commit pointer")
      LifecycleOps.rollbackTo(spark, base, 0L, a)
      assert(Generations.committed(spark, base) == Seq(0L, 1L, 2L),
        s"$kp: unexpected generation history after re-run")
      assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
        s"$kp: re-run rollback diverged from the recorded generation")
      assertCleanAudit(base, s"rollback-$kp")
    }
  }

  test("crash mid-rewrite then a DIFFERENT target repairs from disk state") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val a = snapA(all, cut)
    val b = snapB(all, cut)
    // target C diverges from A EARLIER than B does (so the interrupted
    // B-rewrite sits past C's boundary) with a TOKEN-COUNT-PRESERVING
    // change (upper-casing one mid-stream doc): every C position past
    // that doc's shard matches A exactly, so a cycle that trusted the
    // committed manifest's prefix would mark the B-rewritten tail
    // "kept" and leave stale bytes — the precise hazard the dirty
    // marker's signature mismatch repairs
    val cCut = ids(ids.length / 2)
    val c = all.select(col("doc_id"),
      when(col("doc_id") === cCut, upper(col("text")))
        .otherwise(col("text")).as("text"), col("lang"))

    // reference: build(A) then refresh(C) with no interruption
    val refBase = Files.createTempDirectory("repair_ref").toString
    LifecycleOps.priorBuild(spark, refBase, a)
    LifecycleOps.refreshTo(spark, refBase, c)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))

    val base = Files.createTempDirectory("repair").toString
    LifecycleOps.priorBuild(spark, base, a)
    // kill AFTER the shard rewrite to B (the worst point: disk is fully
    // at B past B's boundary, but nothing committed)
    intercept[RuntimeException] {
      LifecycleOps.refreshTo(spark, base, b, failAt = Some("after-shards"))
    }
    // now refresh to C instead of re-running B
    LifecycleOps.refreshTo(spark, base, c)
    assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
      "repair path diverged from the clean A->C refresh")
    assertCleanAudit(base, "repair")

    // the DOUBLE-crash hole the sentinel closes: crash mid-B-rewrite,
    // then crash the C refresh AFTER its repair marker landed but
    // BEFORE the repair rewrote anything — a clean-signature marker
    // would let the re-run of C take the cheap path over B-stale disk
    val base2 = Files.createTempDirectory("repair2").toString
    LifecycleOps.priorBuild(spark, base2, a)
    intercept[RuntimeException] {
      LifecycleOps.refreshTo(spark, base2, b, failAt = Some("after-shards"))
    }
    intercept[RuntimeException] {
      LifecycleOps.refreshTo(spark, base2, c, failAt = Some("mid-repair"))
    }
    LifecycleOps.refreshTo(spark, base2, c)
    assert(manifestRows(LifecycleOps.currentManifest(spark, base2)) == want,
      "double-crash re-run took the cheap path over mixed disk state")
    assertCleanAudit(base2, "double-crash repair")
  }

  test("an fsck repair killed at every point leaves the prior " +
      "generation current and a re-run heals the root fully") {
    import graft.streaming.IndexMaintenance
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val (a, b) = (snapA(all, cut), snapB(all, cut))
    // every repairable corruption class except the artifact vanish
    // (q215's two-SF oracle covers that one; emptyArtifacts is
    // cycle-internal): broken old generation, orphan debris, planted
    // dirty marker, crashed writer's lease, unfolded tombstones, a
    // shard directory deleted from under its manifest
    def plant(base: String): Unit = {
      LifecycleOps.priorBuild(spark, base, a)
      LifecycleOps.refreshTo(spark, base, b)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${Generations.dir(base, 0L)}/manifest"), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/gen_99"))
      Generations.writeMarker(spark, s"$base/shards/_REPACK_IN_PROGRESS",
        "planted-interrupted-signature")
      Generations.writeMarker(spark, s"$base/${Generations.LeaseName}",
        "crashed-writer|12345")
      IndexMaintenance.writeTombstones(
        b.filter(pmod(col("doc_id"), lit(31)) === 3).select("doc_id"),
        "doc_id", base, 0L)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$base/shards/shard_id=1"), true)
    }
    val refBase = Files.createTempDirectory("fsckrep_ref").toString
    plant(refBase)
    LifecycleOps.fsckRepair(spark, refBase)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))
    // before / during / after the shard mutation
    for (kp <- Seq("after-pack-input", "mid-repair", "after-shards")) {
      val base = Files.createTempDirectory(s"fsckrep_$kp").toString
      plant(base)
      val curBefore = Generations.current(spark, base).get
      intercept[RuntimeException] {
        LifecycleOps.fsckRepair(spark, base, failAt = Some(kp))
      }
      assert(Generations.current(spark, base).contains(curBefore),
        s"$kp: a killed repair advanced the committed generation")
      val healed = LifecycleOps.fsckRepair(spark, base)
      assert(healed.filter(!col("check_name").startsWith("repair_") &&
        col("violations") =!= 0L).count() == 0L,
        s"$kp: re-run repair left live violations")
      assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
        s"$kp: re-run repair diverged from the uninterrupted repair")
      assertCleanAudit(base, s"fsck-repair-$kp")
    }
  }

  test("fsck repair heals a root whose CURRENT generation frames were " +
      "destroyed — the corpus rederives from the artifact store") {
    val all = docs
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 8 / 10)
    val (a, b) = (snapA(all, cut), snapB(all, cut))
    val refBase = Files.createTempDirectory("curgone_ref").toString
    LifecycleOps.priorBuild(spark, refBase, a)
    LifecycleOps.refreshTo(spark, refBase, b)
    val want = manifestRows(LifecycleOps.currentManifest(spark, refBase))
    val base = Files.createTempDirectory("curgone").toString
    LifecycleOps.priorBuild(spark, base, a)
    LifecycleOps.refreshTo(spark, base, b)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // destroy BOTH tiny frames of the CURRENT generation — the worst
    // repairable case: the repair cycle must derive everything from
    // the content-addressed artifact store
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${Generations.dir(base, 1L)}/pack_input"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${Generations.dir(base, 1L)}/manifest"), true)
    val healed = LifecycleOps.fsckRepair(spark, base)
    assert(healed.filter(!col("check_name").startsWith("repair_") &&
      col("violations") =!= 0L).count() == 0L,
      "repair left live violations on a current-gen-destroyed root")
    assert(manifestRows(LifecycleOps.currentManifest(spark, base)) == want,
      "the rederived corpus diverged from the undamaged twin")
    assertCleanAudit(base, "current-gen-destroyed")
    assert(!Generations.committed(spark, base).contains(1L),
      "the destroyed generation's husk survived the post-cycle sweep")
  }
}
