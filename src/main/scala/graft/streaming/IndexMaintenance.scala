package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Compaction for the partition-per-micro-batch index stores
  * ([[StreamingDedup]]'s LSH/segment-digest indexes, [[RetrievalStream]]'s
  * postings) — the r10 verdict's deferred storage-layout concern.
  *
  * The ingest convention writes one parquet partition directory per
  * micro-batch id so a replayed batch overwrites exactly its own
  * partition (exactly-once under foreachBatch's at-least-once contract).
  * A long-lived ingest therefore accumulates thousands of tiny
  * directories and the read side goes file-listing-bound. Compaction
  * coalesces every CLOSED batch partition — ids strictly below the
  * stream checkpoint's committed id, which can never be replayed — into
  * the single reserved partition `<prefix>-1`, repartitioned on the
  * index's join keys (term for postings, (band, bucket) for LSH) so a
  * search touches few, well-clustered files.
  *
  * Why -1: batch ids are non-negative, so the compacted store can live
  * INSIDE the same partition-discovered layout — readers that filter
  * `batch_id < currentBatch` keep working unchanged (every compacted row
  * came from a batch < committed ≤ current), the renumbered-restart
  * guard (`ids ≤ current`) keeps holding, and a replay of any
  * still-open batch still overwrites only its own directory.
  *
  * Swap protocol: write the coalesced data to a dot-prefixed temp dir
  * (invisible to partition discovery), then delete the source
  * directories and rename the temp into place. On a real deployment the
  * delete+rename window is the usual non-transactional-filesystem
  * caveat — run compaction from a single maintenance job, not
  * concurrently with readers, or use a transactional table format; the
  * replay-correctness argument (only closed batches move) is
  * independent of that window.
  */
object IndexMaintenance {

  /** Compact all batch partitions `<prefix><id>` with `0 ≤ id <
    * upToBatch` (plus any previously-compacted `<prefix>-1`) under
    * `dir` into a fresh `<prefix>-1`, shuffled on `shuffleCols` into
    * `targetPartitions` files. Returns the number of batch directories
    * compacted (0 = nothing to do; the store is untouched).
    *
    * `upToBatch` MUST be ≤ the stream checkpoint's committed batch id:
    * compacting an id the stream could still replay would let the
    * replay's partition overwrite duplicate rows already folded into
    * the compacted store.
    *
    * `transform` is an optional row filter applied to the folded data
    * before it lands in `<prefix>-1` — the tombstone-application hook:
    * deletion writes tombstones into a side store and readers anti-join
    * them; compaction passes that same anti-join here so folded history
    * is PHYSICALLY rid of deleted rows (the at-rest half of
    * right-to-be-forgotten — a read-side mask alone leaves the bytes on
    * disk). Identity when absent. Applying an idempotent filter is
    * replay-safe: rows it removes are exactly the rows every reader
    * already masks.
    */
  def compactBatchStore(spark: SparkSession, dir: String, prefix: String,
      upToBatch: Long, shuffleCols: Seq[String],
      targetPartitions: Int = 8,
      transform: DataFrame => DataFrame = identity): Long = {
    require(upToBatch >= 0, s"upToBatch must be >= 0, got $upToBatch")
    require(targetPartitions > 0,
      s"targetPartitions must be positive, got $targetPartitions")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    val entries = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(n => n -> n.stripPrefix(prefix).toLong)
    val toCompact = entries.filter { case (_, id) => id >= 0 && id < upToBatch }
    if (toCompact.isEmpty) return 0L
    val compactedName = s"$prefix-1"
    val hasPrior = entries.exists(_._2 == -1L)
    // leaf directories read directly (no common-base discovery), so the
    // frame holds only file columns — the partition value is re-supplied
    // by the destination directory name
    val srcPaths = toCompact.map { case (n, _) => s"$dir/$n" } ++
      (if (hasPrior) Seq(s"$dir/$compactedName") else Nil)
    val tmp = new Path(root, ".compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    transform(spark.read.parquet(srcPaths: _*))
      .repartition(targetPartitions, shuffleCols.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    toCompact.foreach { case (n, _) => fs.delete(new Path(root, n), true) }
    if (hasPrior) fs.delete(new Path(root, compactedName), true)
    require(fs.rename(tmp, new Path(root, compactedName)),
      s"failed to move compacted data into $dir/$compactedName")
    // record how far history is folded: once the numbered directories
    // are gone, the ingest guards can no longer see that a replayed
    // low id would duplicate rows already inside batch -1 — the marker
    // carries that bound ([[requireReplayable]] enforces it)
    val bound = math.max(upToBatch, compactedThrough(spark, dir).getOrElse(0L))
    graft.operators.Generations.writeMarker(spark,
      new Path(root, MarkerName).toString, bound.toString)
    toCompact.size.toLong
  }

  private val MarkerName = "_compacted_through"

  /** The exclusive upper bound of batch ids folded into `<prefix>-1`,
    * if this store has ever been compacted. Marker I/O shares
    * [[graft.operators.Generations]]'s helpers — one place for the
    * small-file create/read semantics.
    */
  def compactedThrough(spark: SparkSession, dir: String): Option[Long] =
    graft.operators.Generations
      .readMarker(spark, new Path(dir, MarkerName).toString)
      .map(_.toLong)

  /** Refuse a write of `batchId` into a store whose history is already
    * folded past it: the batch's own partition no longer exists, so the
    * overwrite-own-partition idempotence argument breaks (its rows sit
    * inside `<prefix>-1` AND would land again under the replayed id).
    * Only a restart with a lost/renumbered checkpoint produces this —
    * same failure class as the renumbered-restart guard, same loud stop.
    */
  def requireReplayable(spark: SparkSession, dir: String, batchId: Long): Unit =
    compactedThrough(spark, dir).foreach { ct =>
      require(batchId >= ct,
        s"batch $batchId replays into $dir whose history is compacted " +
          s"through $ct — its partition was folded away; run the ingest " +
          "with a durable checkpointDir (renumbered batch ids)")
    }

  // -------------------------------------------------------------------
  // Tombstones: targeted deletion across the partition-per-batch stores
  // -------------------------------------------------------------------

  /** Path of the tombstone side-store under a store root. The leading
    * underscore keeps it INVISIBLE to the root's partition discovery
    * (same mechanism as `_compacted_through` and Spark's own `_SUCCESS`)
    * while staying readable as an explicit path — so index readers that
    * `spark.read.parquet(root)` keep working unchanged, and the
    * batch-id listing guards never see it. The non-hidden `ids` leaf is
    * what tombstone readers address directly: pointing a read AT a
    * hidden directory name makes DataSource emit a scary (if harmless)
    * "All paths were ignored" warning on every deletion-masked read.
    */
  val TombstonesName = "_tombstones/ids"

  /** Record `ids` as deleted from the store at `dir` — the
    * right-to-be-forgotten front door (VERDICT r12 #1). Tombstones are
    * partition-per-batch like the store itself (`_tombstones/batch=N`),
    * so a replayed deletion batch overwrites exactly its own partition
    * (idempotent under foreachBatch's at-least-once contract — the
    * streaming deletion face rides this directly). Deletion is GLOBAL:
    * a tombstoned id is masked out of every store batch, past and
    * future, until compaction folds the rows away physically.
    */
  def writeTombstones(ids: DataFrame, idCol: String, dir: String,
      batchId: Long): Unit = {
    // the SAME replay guards as the index ingests, on the tombstone
    // store itself: a deletion stream restarted with a lost/renumbered
    // checkpoint would otherwise overwrite a prior tombstone partition
    // and silently RESURRECT its deleted documents — the one failure
    // mode right-to-be-forgotten cannot afford. Refuse a batch id the
    // store has already folded (marker) or exceeded (live partitions).
    val spark = ids.sparkSession
    val tombDir = s"$dir/$TombstonesName"
    requireReplayable(spark, tombDir, batchId)
    val root = new Path(tombDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val present = fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
      require(present.forall(_ <= batchId),
        s"tombstone store $tombDir already holds deletion batches " +
          s"${present.filter(_ > batchId).sorted.mkString(",")} > current " +
          s"$batchId — deletion stream restarted with renumbered batch " +
          "ids (run it with a durable checkpointDir); refusing to " +
          "overwrite deletion history")
    }
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("overwrite")
      .parquet(s"$tombDir/batch=$batchId")
  }

  /** The deleted-id frame of the store at `dir`, if any deletion has
    * ever been recorded: one `id` column, duplicates possible across
    * deletion batches (anti-join semantics don't care). A store whose
    * id type is fixed passes its `schema` (`id` only), which spares the
    * read its footer-inference job.
    */
  def tombstoneIds(spark: SparkSession, dir: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new Path(dir, TombstonesName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(schema.fold(spark.read)(spark.read.schema)
      .parquet(p.toString).select("id"))
  }

  /** Fold closed tombstone batches (ids < `upToBatch` of the DELETION
    * stream's checkpoint) into one partition — a long-lived deletion
    * ingest otherwise accumulates tiny directories exactly like the
    * index itself. Masking is unchanged: readers union every tombstone
    * partition, folded or not. Same replay guards as the index
    * compaction (a replayed folded deletion batch is refused).
    */
  def compactTombstones(spark: SparkSession, dir: String, upToBatch: Long,
      targetPartitions: Int = 1): Long =
    compactBatchStore(spark, s"$dir/$TombstonesName", "batch=", upToBatch,
      Seq("id"), targetPartitions)

  /** Mask tombstoned rows out of a store read — the read-side half of
    * deletion (the write-side half is [[compactBatchStore]]'s
    * `transform`). No tombstone store → the frame passes through
    * untouched (zero cost on never-deleted stores).
    */
  def dropTombstoned(df: DataFrame, idCol: String, spark: SparkSession,
      dir: String, schema: Option[StructType] = None): DataFrame =
    tombstoneIds(spark, dir, schema).fold(df) { t =>
      df.join(t.select(col("id").as("__tomb_id")),
        df(idCol) === col("__tomb_id"), "left_anti")
    }

  /** Data files currently under `dir` (recursive, non-hidden) — the
    * observable compaction payoff for specs and ladders.
    */
  def dataFileCount(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    val it = fs.listFiles(root, true)
    val rootUri = root.toUri.getPath
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      // hidden check applies to EVERY path segment below the root, not
      // just the file name: tombstone parquet under _tombstones/ is
      // invisible to readers and must not inflate the payoff metric
      val rel = f.getPath.toUri.getPath.stripPrefix(rootUri)
      val hidden = rel.split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (!hidden) n += 1
    }
    n
  }
}
