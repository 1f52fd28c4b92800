package graft

import java.nio.file.Files
import graft.operators.Generations
import graft.queries.LifecycleOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lifecycle read-safety rule (VERDICT r14 #7) — the systematic
  * guard for the prune-vs-lazy-reader hazard: every frame crossing the
  * LifecycleOps/Generations API boundary either holds its own
  * materialized rows (cycle results) or reads only the immutable
  * committed generation of its birth (generation reads, valid for the
  * keep window). This spec calls every public lifecycle read API,
  * then refreshes/deletes/prunes aggressively, then consumes the
  * captured frames.
  */
class LifecycleReadSafetySpec extends SparkSpec {

  private def docs: DataFrame =
    Tables.documents(spark, sf("sf0.001"))
      .filter(col("doc_id") < 250).select("doc_id", "text", "lang")

  private def rows(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(concat_ws("|", cols.map(c => col(c).cast("string")): _*)
      .as("r")).collect().map(_.getString(0)).toSet
  }

  test("cycle results stay consumable through later cycles and an " +
      "aggressive prune") {
    val base = Files.createTempDirectory("readsafe_results").toString
    val all = docs
    LifecycleOps.priorBuild(spark, base, all.filter(col("doc_id") < 150))
    // capture a cycle result from each cycle type WITHOUT consuming it
    val rRefresh = LifecycleOps.refreshTo(spark, base,
      all.filter(col("doc_id") < 200))
    val rDelete = LifecycleOps.deleteDocs(spark, base,
      all.filter(pmod(col("doc_id"), lit(9)) === 2).select("doc_id"))
    // record what they hold now...
    val wantRefresh = rows(rRefresh)
    val wantDelete = rows(rDelete)
    // ...then churn the state root hard: another refresh, a prune down
    // to ONE generation (deleting both results' birth generations), and
    // an artifact rewrite via one more cycle
    LifecycleOps.refreshTo(spark, base, all)
    Generations.prune(spark, base, 1)
    LifecycleOps.deleteDocs(spark, base,
      all.filter(pmod(col("doc_id"), lit(9)) === 5).select("doc_id"))
    Generations.prune(spark, base, 1)
    // the results are self-contained: identical content, no dead reads
    assert(rows(rRefresh) == wantRefresh,
      "a refresh result changed after later cycles/prunes")
    assert(rows(rDelete) == wantDelete,
      "a deletion result changed after later cycles/prunes")
  }

  test("generation reads stay valid while the birth generation is in " +
      "the keep window — and the window boundary is real") {
    val base = Files.createTempDirectory("readsafe_gens").toString
    val all = docs
    LifecycleOps.priorBuild(spark, base, all.filter(col("doc_id") < 150))
    LifecycleOps.refreshTo(spark, base, all.filter(col("doc_id") < 200))
    // frames born of generation 1 (the current generation right now)
    val m1 = LifecycleOps.currentManifest(spark, base)
    val p1 = LifecycleOps.currentPackInput(spark, base)
    val wantM = rows(m1)
    val wantP = rows(p1)
    // two more cycles: gen 1 is no longer current but stays inside the
    // KeepGenerations = 8 window every cycle's own prune enforces
    LifecycleOps.deleteDocs(spark, base,
      all.filter(pmod(col("doc_id"), lit(9)) === 2).select("doc_id"))
    LifecycleOps.refreshTo(spark, base, all)
    assert(rows(m1) == wantM,
      "a generation read changed while its birth generation was kept")
    assert(rows(p1) == wantP,
      "a generation read changed while its birth generation was kept")
    // the documented boundary: prune the birth generation away and the
    // lazy frame dies LOUDLY (never silently wrong) — the clause that
    // makes 'localCheckpoint what outlives the window' load-bearing
    Generations.prune(spark, base, 1)
    intercept[Exception] { m1.collect() }
  }

  test("a reader pin holds its generation open across an aggressive " +
      "prune — the structural guard, not discipline") {
    val base = Files.createTempDirectory("readsafe_pin").toString
    val all = docs
    LifecycleOps.priorBuild(spark, base, all.filter(col("doc_id") < 150))
    LifecycleOps.refreshTo(spark, base, all.filter(col("doc_id") < 200))
    val g1 = Generations.current(spark, base).get
    Generations.pinGeneration(spark, base, g1, "exporter")
    val m1 = LifecycleOps.currentManifest(spark, base)
    val wantM = rows(m1)
    // churn past the pin's generation, then prune to ONE generation:
    // the pinned generation SURVIVES and the lazy read stays identical
    LifecycleOps.deleteDocs(spark, base,
      all.filter(pmod(col("doc_id"), lit(9)) === 2).select("doc_id"))
    LifecycleOps.refreshTo(spark, base, all)
    Generations.prune(spark, base, 1)
    assert(Generations.committed(spark, base).contains(g1),
      "prune deleted a generation under a live reader pin")
    assert(rows(m1) == wantM,
      "a pinned generation read changed across churn + prune")
    // unpin → the next prune collects it and the frame dies loudly
    Generations.unpinGeneration(spark, base, g1, "exporter")
    Generations.prune(spark, base, 1)
    assert(!Generations.committed(spark, base).contains(g1))
    intercept[Exception] { m1.collect() }
  }

  test("pin protocol: expired pins collect, expired siblings sweep, " +
      "uncommitted generations refuse pins, withPinnedCurrent brackets") {
    val base = Files.createTempDirectory("readsafe_pinproto").toString
    (0L to 4L).foreach(n => Generations.commit(spark, base, n))
    // an expired pin reads as absent and never wedges pruning
    Generations.pinGeneration(spark, base, 0L, "dead", ttlMs = -1000L)
    assert(Generations.pins(spark, base, 0L).isEmpty)
    Generations.prune(spark, base, 2)
    assert(Generations.committed(spark, base) == Seq(3L, 4L))
    // pinning a generation that is not committed is refused
    intercept[IllegalArgumentException] {
      Generations.pinGeneration(spark, base, 99L, "reader")
    }
    // a live pin holds its generation; an expired sibling pin is swept
    // by the prune that honors the live one
    Generations.pinGeneration(spark, base, 3L, "live")
    Generations.pinGeneration(spark, base, 3L, "gone", ttlMs = -1000L)
    Generations.prune(spark, base, 1)
    assert(Generations.committed(spark, base).contains(3L))
    assert(Generations.pins(spark, base, 3L) == Seq("live"))
    assert(!new java.io.File(s"${Generations.dir(base, 3L)}/_PIN_gone")
      .exists, "prune left an expired pin file behind")
    // unpin → collectable
    Generations.unpinGeneration(spark, base, 3L, "live")
    Generations.prune(spark, base, 1)
    assert(Generations.committed(spark, base) == Seq(4L))
    // withPinnedCurrent pins for the body and releases on the way out
    val got = Generations.withPinnedCurrent(spark, base, "audit") { g =>
      assert(Generations.pins(spark, base, g) == Seq("audit")); g
    }
    assert(got == 4L && Generations.pins(spark, base, 4L).isEmpty)
  }

  test("a lifecycle cycle leaves exactly its one result checkpoint behind") {
    val base = Files.createTempDirectory("readsafe_leak").toString
    val all = docs
    LifecycleOps.priorBuild(spark, base, all.filter(col("doc_id") < 150))
    // every intermediate checkpoint (diff, survivors, tail chunks,
    // shard diff) is released inside the cycle (ADVICE r14); only the
    // returned frame's own materialization may remain
    assertReleases("refreshTo", allowed = 1) {
      LifecycleOps.refreshTo(spark, base,
        all.filter(col("doc_id") < 200)).collect()
    }
    assertReleases("deleteDocs", allowed = 1) {
      LifecycleOps.deleteDocs(spark, base,
        all.filter(pmod(col("doc_id"), lit(9)) === 2).select("doc_id"))
        .collect()
    }
    // the repair's readout is a driver-local literal — it must release
    // even its own cycle's result checkpoint
    assertReleases("fsckRepair", allowed = 0) {
      LifecycleOps.fsckRepair(spark, base).collect()
    }
  }
}
