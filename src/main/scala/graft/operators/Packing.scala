package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining: concatenate every document's tokens
  * in a deterministic order and split the stream at fixed `capacity`
  * boundaries (the concat-and-chunk layout GPT-style training uses).
  * The computation is a global running token offset — an exclusive
  * prefix sum over the corpus in document order.
  *
  * The naive formulation — `Window.orderBy(id)` with no partition — puts
  * the ENTIRE corpus through one task (Spark even warns); at 100 TB that
  * is not a skew ceiling but a wall. This implements the classic
  * two-phase distributed prefix sum instead: per-GROUP running sums in
  * parallel (group = a coarse range of the order key), then a prefix
  * over the per-group TOTALS — #groups rows, trivially small — joined
  * back as each group's base offset. Wall-clock scales with the scan;
  * the only serial object is the group-totals list.
  *
  * Contract: `orderCol` must be unique per row within a partition (it
  * defines the concatenation order); `groupOf` must be monotone
  * non-decreasing in `orderCol` (e.g. `orderCol div groupWidth` for a
  * numeric key) so groups are contiguous runs of the order. `orderCol`,
  * `partitionCols` and `countCol` must be NON-NULL: a null group key
  * falls out of the inner base-offset join (the optimizer even infers
  * the isnotnull filter — see PLANS.md q75), and a null count nulls the
  * running sum from that row on. Filter first if the input can hold
  * nulls.
  */
object Packing {

  /** Exclusive running sum of `countCol` in (`partitionCols`, `orderCol`)
    * order, as a new `offset` column — the distributed prefix sum shared
    * by [[concatChunkPlacement]] (global) and [[takeTokenBudget]]
    * (per-partition). Phase-1 running sums parallelize over
    * (partitionCols, group); the phase-2 prefix runs over per-group
    * totals only (#partitions × #groups rows, broadcast back).
    */
  def runningOffset(df: DataFrame, orderCol: String, countCol: String,
      groupOf: Column, partitionCols: Seq[String] = Nil): DataFrame =
    runningOffset(df, Seq(col(orderCol)), countCol, groupOf, partitionCols)

  /** [[runningOffset]] under a COMPOSITE order (e.g. quality desc then
    * id) — `groupOf` must still be a coarse non-decreasing function of
    * that order within each partition; the single-column form delegates
    * here.
    */
  def runningOffset(df: DataFrame, orderBy: Seq[Column], countCol: String,
      groupOf: Column, partitionCols: Seq[String]): DataFrame = {
    val part = partitionCols.map(col)
    val grouped = df.withColumn("__g", groupOf)
    // phase 1 (parallel): running sum WITHIN each (partition, group)
    val wIn = Window.partitionBy(part :+ col("__g"): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = grouped.withColumn("__local_end", sum(col(countCol)).over(wIn))
    // phase 2 (tiny): exclusive prefix over per-group totals
    val wGroups = Window.partitionBy(part: _*).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = grouped.groupBy(part :+ col("__g"): _*)
      .agg(sum(col(countCol)).as("__g_total"))
      .withColumn("__g_base", coalesce(sum(col("__g_total")).over(wGroups), lit(0L)))
      .select(part :+ col("__g") :+ col("__g_base"): _*)
    // join back (broadcast: #partitions × #groups rows)
    local.join(broadcast(bases), partitionCols :+ "__g")
      .withColumn("offset",
        (col("__g_base") + col("__local_end") - col(countCol)).cast("long"))
      .drop("__g", "__local_end", "__g_base")
  }

  /** Per-document chunk placement under concat-and-chunk: the exclusive
    * running offset of each doc's first token, and the first/last chunk
    * ids its tokens land in. Zero-token docs get `n_chunks = 0` and
    * null first/last chunk (they occupy no space in the stream).
    *
    * Output: every input column + `offset`, `first_chunk`, `last_chunk`,
    * `n_chunks`.
    */
  def concatChunkPlacement(df: DataFrame, orderCol: String, countCol: String,
      capacity: Long, groupOf: Column): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    runningOffset(df, orderCol, countCol, groupOf)
      .withColumn("first_chunk",
        when(col(countCol) > 0, chunkOf(col("offset"), capacity)))
      .withColumn("last_chunk",
        when(col(countCol) > 0,
          chunkOf(col("offset") + col(countCol) - 1, capacity)))
      .withColumn("n_chunks",
        coalesce(col("last_chunk") - col("first_chunk") + 1, lit(0L)))
  }

  /** Token-budget selection — the data-mixing primitive "take the first
    * `budget` tokens of each source, in corpus order". Keeps exactly the
    * rows that FULLY fit before the budget boundary within their
    * partition (truncation-free: a row straddling the boundary is
    * dropped, not split; zero-count rows before the boundary are kept).
    * Output: every input column + the row's `offset` in its partition's
    * stream.
    */
  def takeTokenBudget(df: DataFrame, orderCol: String, countCol: String,
      budget: Long, groupOf: Column, partitionCols: Seq[String]): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    runningOffset(df, orderCol, countCol, groupOf, partitionCols)
      .filter(col("offset") + col(countCol) <= budget)
  }

  /** Materialize the packed sequences themselves: every token of every
    * doc mapped to its global stream position (the [[runningOffset]]
    * prefix sum + the token's index), grouped into `capacity`-token
    * chunks. Every chunk except the stream's last holds exactly
    * `capacity` tokens; chunks freely span document boundaries (the
    * concat-and-chunk property). Zero-token docs contribute nothing.
    *
    * Scale shape: placement is the two-phase prefix sum; the only other
    * exchange is the groupBy on chunk_id, whose partitions are bounded
    * at exactly `capacity` tokens — no skew is possible by construction.
    *
    * Output: `chunk_id`, `n_tokens`, `chunk_fp` (md5 of the
    * space-joined chunk text — the payload for a hash-verifiable layout;
    * swap the md5 for the join itself to emit raw sequences).
    */
  def packChunks(df: DataFrame, orderCol: String, tokensCol: String,
      capacity: Long, groupOf: Column): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    // keep the caller's column names: groupOf is an expression over them
    val counts = df.select(col(orderCol), col(tokensCol))
      .withColumn("__n", size(col(tokensCol)).cast("long"))
    chunkAgg(runningOffset(counts, orderCol, "__n", groupOf),
      df.select(col(orderCol), col(tokensCol)), orderCol, tokensCol,
      capacity, 0L)
  }

  /** [[packChunks]] with the per-row token counts supplied on a
    * counts-only meta frame (contract: `countCol` equals
    * `size(tokensCol)` of the matching payload row) and the token
    * payload attached separately by `orderCol` — the lifecycle build
    * path. The placement prefix sum runs over the meta frame alone and
    * tokens materialize exactly once, inside the chunk aggregate —
    * instead of riding a corpus-sized token checkpoint between the
    * placement pass and the chunk pass (guide §2.3/§8: decide with
    * small rows, move the heavy bytes once). `payload` may be a
    * superset of `meta` (extra rows fall out of the equi-join).
    */
  def packChunksWithCounts(meta: DataFrame, payload: DataFrame,
      orderCol: String, tokensCol: String, countCol: String,
      capacity: Long, groupOf: Column): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val counts = meta.select(col(orderCol), col(countCol))
      .withColumn("__n", coalesce(col(countCol).cast("long"), lit(0L)))
    chunkAgg(runningOffset(counts, orderCol, "__n", groupOf),
      payload.select(col(orderCol), col(tokensCol)), orderCol, tokensCol,
      capacity, 0L)
  }

  /** Chunk rows (chunk_id, n_tokens, chunk_fp) of the token stream at
    * positions ≥ `startPos` — the shared tail of [[packChunks]]
    * (startPos 0) and [[repackFromBoundary]] (startPos = the boundary
    * shard's first position). `offsets` carries the placement METADATA
    * (`orderCol`, `__n`, `offset` — counts only; extra columns are
    * pruned); `payload` carries (`orderCol`, `tokensCol`) and is
    * attached by an equi-join AFTER the startPos filter.
    *
    * Split rationale (guide §2.3 "shuffle keys and metadata instead of
    * payloads"): the prefix-sum window only needs (orderCol, __n,
    * group), so its exchange+sort move a few dozen bytes per DOC
    * instead of the token payload — and the payload attaches only to
    * docs overlapping positions ≥ startPos, so a boundary-restricted
    * repack never moves tokens for the untouched prefix. At bench scale
    * the filtered offsets side broadcasts (AQE); at cluster scale it
    * degrades to one payload shuffle by `orderCol` — the same single
    * payload exchange the fused window plan paid. Contract: `orderCol`
    * unique per row (already the packing contract — a duplicate key
    * would fan out the join where the window formulation merely
    * produced an undefined order).
    *
    * The exchange feeding the per-chunk aggregate carries ONE pre-sliced,
    * pre-joined text part per (document × spanned chunk) instead of one
    * (position, token) row per TOKEN: the same text bytes cross the
    * shuffle, but ~capacity× fewer rows and no per-token framing — and
    * the per-chunk collect_list sorts ≤⌈capacity/1⌉ parts, typically a
    * handful, instead of `capacity` tokens. The fingerprint is
    * unchanged: parts are non-empty by construction and ordered by
    * their first global position, and joining space-joined parts with
    * " " equals the space-join of the chunk's tokens in stream order.
    */
  private def chunkAgg(offsets: DataFrame, payload: DataFrame,
      orderCol: String, tokensCol: String,
      capacity: Long, startPos: Long): DataFrame = {
    val cap = lit(capacity)
    val suffix = offsets
      .filter(col("offset") + col("__n") > startPos && col("__n") > 0)
      .select(col(orderCol), col("offset"), col("__n"))
    payload.join(suffix, Seq(orderCol))
      .select(explode(transform(
        sequence(chunkOf(greatest(col("offset"), lit(startPos)), capacity),
          chunkOf(col("offset") + col("__n") - 1, capacity)),
        c => {
          // part = this doc's tokens inside chunk c, clipped at startPos
          val start = greatest(col("offset"), c * cap, lit(startPos))
          val end = least(col("offset") + col("__n"), (c + 1) * cap)
          struct(c.as("chunk_id"), start.as("start"),
            (end - start).as("len"),
            array_join(slice(col(tokensCol),
              (start - col("offset") + 1).cast("int"),
              (end - start).cast("int")), " ").as("part"))
        })).as("__part"))
      .groupBy(col("__part.chunk_id").as("chunk_id"))
      .agg(sum(col("__part.len")).cast("long").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(
            struct(col("__part.start"), col("__part.part")))),
            x => x.getField("part")),
          " ")).as("chunk_fp"))
  }

  /** Per-(chunk, document) boundary table under concat-and-chunk — the
    * attention-mask metadata a trainer needs alongside [[packChunks]]'s
    * payload: chunks freely span document boundaries, and cross-document
    * attention must be masked at those boundaries, so every chunk ships
    * with the spans of the documents inside it. One row per (chunk_id,
    * doc): where the doc's tokens start inside the chunk and how many
    * land there; Σ n_in_chunk over a chunk = the chunk's token count
    * (exactly `capacity` except the stream's last chunk — spec-pinned
    * against [[packChunks]]).
    *
    * Scale shape: the same two-phase prefix sum as placement, then a
    * pure map-side `sequence(first_chunk, last_chunk)` explode — fan-out
    * bounded by ⌈n/capacity⌉+1 rows per doc, no extra shuffle.
    * Zero-token docs occupy no span and are absent.
    *
    * Output: every input column + (chunk_id, start_in_chunk,
    * n_in_chunk).
    */
  def chunkBoundaries(df: DataFrame, orderCol: String, countCol: String,
      capacity: Long, groupOf: Column): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    runningOffset(df, orderCol, countCol, groupOf)
      .filter(col(countCol) > 0)
      .select(df.columns.map(col) :+ col("offset") :+
        explode(sequence(chunkOf(col("offset"), capacity),
          chunkOf(col("offset") + col(countCol) - 1, capacity)))
          .as("chunk_id"): _*)
      .select(df.columns.map(col) :+ col("chunk_id") :+
        (greatest(col("offset"), col("chunk_id") * capacity)
          - col("chunk_id") * capacity).as("start_in_chunk") :+
        (least(col("offset") + col(countCol), (col("chunk_id") + 1) * capacity)
          - greatest(col("offset"), col("chunk_id") * capacity))
          .as("n_in_chunk"): _*)
  }

  /** Seeded deterministic corpus shuffle + chunk placement: training
    * order = `md5("<seed>:<id>")` — a pseudorandom but fully
    * reproducible permutation ANY engine can recompute (no RNG, the
    * [[Sampling]] portability rule) — with [[concatChunkPlacement]]
    * over that order. The hash's first two hex chars give 256
    * contiguous runs of the shuffled order as the prefix-sum groups, so
    * the shuffle costs nothing extra: same two-phase shape, different
    * sort key. Changing `seed` yields an unrelated permutation —
    * epoch-wise reshuffling is a seed bump, never a data move.
    *
    * Output: every input column + `shuffle_key`, `offset`,
    * `first_chunk`, `last_chunk`, `n_chunks`.
    */
  def shuffledChunkPlacement(df: DataFrame, idCol: String, countCol: String,
      capacity: Long, seed: String): DataFrame = {
    require(!df.columns.contains("shuffle_key"),
      "input already has a shuffle_key column")
    val keyed = df.withColumn("shuffle_key",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    concatChunkPlacement(keyed, "shuffle_key", countCol, capacity,
      groupOf = substring(col("shuffle_key"), 1, 2))
  }

  /** Shard manifest over [[packChunks]] output: contiguous runs of
    * `chunksPerShard` chunks become one training shard, and each shard
    * row carries its chunk count, token count, and a fingerprint of its
    * chunk fingerprints IN CHUNK ORDER — the audit record that lets a
    * trainer (or a later round) verify a shard file byte-for-byte
    * without re-deriving the packing. Contiguous assignment is the
    * point: chunk order IS training order (q81's shuffle already
    * randomized it upstream), so a shard is a sequential slice of the
    * token stream and resuming from shard k is resuming from a known
    * stream position.
    *
    * Scale shape: one hash aggregate keyed on shard_id; a shard's
    * partition is bounded at `chunksPerShard` 32-char fingerprints.
    */
  def shardManifest(chunks: DataFrame, chunksPerShard: Long): DataFrame = {
    require(chunksPerShard > 0,
      s"chunksPerShard must be positive, got $chunksPerShard")
    chunks
      .groupBy(chunkOf(col("chunk_id"), chunksPerShard).as("shard_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tokens").cast("long").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_fp")))),
            x => x.getField("chunk_fp")),
          " ")).as("shard_fp"))
  }

  /** Write [[packChunks]] output as one parquet file per shard under
    * `dir/shard_id=K/`. `repartition(shard_id)` puts each shard's chunks
    * in exactly one task, `sortWithinPartitions` fixes the row order
    * inside the file, and `partitionBy` gives the hive layout a trainer
    * can range-read — so shard K is ONE sequentially-readable file whose
    * content is pinned by [[shardManifest]]'s `shard_fp`. At 100 TB the
    * same call fans out across executors: shards are independent, no
    * coordination beyond the one exchange.
    */
  def writeShards(chunks: DataFrame, dir: String, chunksPerShard: Long): Unit = {
    require(chunksPerShard > 0,
      s"chunksPerShard must be positive, got $chunksPerShard")
    chunks
      .withColumn("shard_id", chunkOf(col("chunk_id"), chunksPerShard))
      .repartition(col("shard_id"))
      // the sort MUST lead with the partition column: the dynamic-
      // partition writer otherwise inserts its own sort on shard_id,
      // which is not stable and scrambles the chunk order inside a
      // shard (caught by the curriculum round-trip spec); with the
      // required prefix already sorted the writer keeps our order
      .sortWithinPartitions("shard_id", "chunk_id")
      .write.mode("overwrite").partitionBy("shard_id").parquet(dir)
  }

  /** Read-back integrity audit of a [[writeShards]] directory against
    * its [[shardManifest]]: re-read the shard files, recompute every
    * shard's chunk count, token count, and order-pinned fingerprint
    * from what is actually ON DISK, and compare field-by-field with the
    * manifest the writer recorded. This is the verification half of the
    * manifest contract — "a trainer verifies a shard byte-for-byte
    * without re-deriving the packing" is only true if something
    * performs that verification, and at 100 TB (thousands of shard
    * files moving through object stores and cache tiers) a post-write /
    * pre-train audit pass is standard operational hygiene.
    *
    * The comparison join is FULL outer on shard_id, so a shard file
    * that vanished (manifest row, no data) and an orphan file (data, no
    * manifest row) both surface as mismatch rows instead of silently
    * dropping out; missing-side counts read as 0.
    *
    * Scale shape: one scan of the shard directory + one hash aggregate
    * keyed on shard_id (bounded at chunksPerShard fingerprints per
    * group), joined against the manifest (one row per shard — tiny,
    * broadcast). Shards audit independently; no coordination.
    *
    * Output: (shard_id, n_chunks, n_tokens, shard_fp [the manifest's
    * record], chunks_match, tokens_match, fp_match).
    */
  def auditShards(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame): DataFrame = {
    // the read-back side IS diskManifest — one definition of the
    // on-disk fingerprint formula, shared with the crash-repair
    // baseline (a drift between the two would silently break either
    // the audit or the repair)
    val onDisk = diskManifest(spark, dir)
      .select(col("shard_id"), col("n_chunks").as("rb_n_chunks"),
        col("n_tokens").as("rb_n_tokens"),
        col("shard_fp").as("rb_shard_fp"))
    manifest
      .select(col("shard_id").cast("long").as("shard_id"), col("n_chunks"),
        col("n_tokens"), col("shard_fp"))
      .join(onDisk, Seq("shard_id"), "full")
      .select(col("shard_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("shard_fp"), lit("")).as("shard_fp"),
        (coalesce(col("n_chunks"), lit(0L)) ===
          coalesce(col("rb_n_chunks"), lit(0L))).as("chunks_match"),
        (coalesce(col("n_tokens"), lit(0L)) ===
          coalesce(col("rb_n_tokens"), lit(0L))).as("tokens_match"),
        (coalesce(col("shard_fp"), lit("")) ===
          coalesce(col("rb_shard_fp"), lit("?"))).as("fp_match"))
  }

  /** The manifest of what is ACTUALLY ON DISK under a [[writeShards]]
    * directory — [[auditShards]]'s read-back half as a standalone frame
    * (shard_id, n_chunks, n_tokens, shard_fp). This is the repair
    * baseline when a crashed repack may have left the shards diverged
    * from every recorded manifest: diffing a new stream against the
    * disk-derived manifest rewrites exactly the shards whose bytes
    * differ, whatever history produced them. An empty/missing store
    * yields an empty frame (a fully-deleted corpus is a valid state).
    */
  def diskManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    // emptiness is detected by the READ itself (missing path or no
    // inferable schema both raise AnalysisException), never by a
    // driver-side recursive file walk: dataFileCount over a shard
    // store is serial in the number of shard DIRECTORIES and was
    // measured at 3x the cost of the actual pruned read at 1k shards
    // (PERF_NOTES r15) — a guard that outweighs the work it guards
    def empty = Seq.empty[(Long, Long, Long, String)]
      .toDF("shard_id", "n_chunks", "n_tokens", "shard_fp")
    // read with the known schema, partition column included (an
    // existing dir with no shard left then reads as empty): a
    // schema-less read starts a footer-inference Spark job of its own
    val rows = try {
      spark.read.schema(ChunkSchema.add("shard_id", "bigint")).parquet(dir)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => return empty
    }
    rows
      .select(col("shard_id").cast("long").as("shard_id"),
        col("chunk_id"), col("n_tokens"), col("chunk_fp"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tokens").cast("long").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_fp")))),
            x => x.getField("chunk_fp")),
          " ")).as("shard_fp"))
  }

  /** The columns of a [[packChunks]] frame, as [[writeShards]] stores
    * them in every shard file.
    */
  val ChunkSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "chunk_id BIGINT, n_tokens BIGINT, chunk_fp STRING")

  /** Targeted document deletion from a [[writeShards]] directory + its
    * [[shardManifest]] (VERDICT r12 #1): remove `deletedIds`' tokens
    * from the packed stream and bring the on-disk shards back to
    * EXACTLY what a from-scratch repack of the surviving corpus would
    * produce — while touching only what the deletion actually changed.
    *
    * Concat-and-chunk packing makes deletion positional: every token
    * position before the FIRST deleted document's offset is identical
    * in the old and new streams, so every chunk — and shard — strictly
    * before that boundary is byte-identical and is neither recomputed
    * nor rewritten. The work is:
    *
    *  1. one cheap prefix sum over per-doc token COUNTS of the full
    *     frame to locate the boundary (1-row aggregate to the driver);
    *  2. token materialization ONLY for surviving docs overlapping
    *     positions ≥ the boundary shard's start — compute ∝ the suffix,
    *     not the corpus;
    *  3. a manifest diff (old vs recomputed tail, by shard_fp) deciding
    *     per shard: `kept` (identical — untouched on disk), `rewritten`
    *     / `added` (dynamic-partition overwrite of exactly those
    *     `shard_id=K` dirs), `removed` (stream shrank past them —
    *     directory deleted).
    *
    * Deleting a doc with zero tokens (or ids absent from `docs`)
    * changes no positions: every shard diffs equal and nothing is
    * written. Returns the post-delete manifest WITH a `status` column
    * (`removed` rows carry the old record, for audit; they are no
    * longer on disk). [[auditShards]] against the returned manifest
    * (minus `removed`) verifies the disk state; q205's oracle pins
    * post-delete ≡ rebuild.
    */
  def deleteAndRepack(docs: DataFrame, idCol: String, orderCol: String,
      tokensCol: String, deletedIds: DataFrame, capacity: Long,
      groupOf: Column, chunksPerShard: Long, dir: String,
      oldManifest: DataFrame): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(chunksPerShard > 0,
      s"chunksPerShard must be positive, got $chunksPerShard")
    requireUniqueKeys(docs.select(col(orderCol)), orderCol,
      "deleteAndRepack docs")
    val del = deletedIds.select(col(deletedIds.columns.head).as("__del_id"))
      .distinct()
    val baseCols = Seq(idCol, orderCol).distinct.map(col) :+ col(tokensCol)
    val counts = docs.select(baseCols: _*)
      .withColumn("__n", coalesce(size(col(tokensCol)).cast("long"), lit(0L)))
    // boundary: the first deleted doc's offset in the OLD stream — the
    // prefix before it is position-identical in the new stream. The
    // offset of the MIN deleted order key is Σ count over keys strictly
    // below it (offsets are monotone in key order), so neither pass
    // needs the two-phase prefix-sum windows the pre-r16 form
    // materialized just to read this one value (guide §2.4); the sum
    // runs only when a deletion actually hits the stream
    val minDel = counts
      .join(del, col(idCol) === col("__del_id"), "left_semi")
      .agg(min(col(orderCol))).collect()(0)
    val boundaryShard: Long =
      if (minDel.isNullAt(0)) Long.MaxValue
      else {
        val off = counts.filter(col(orderCol) < lit(minDel.get(0)))
          .agg(coalesce(sum(col("__n")), lit(0L))).collect()(0).getLong(0)
        boundaryShardOf(off, capacity, chunksPerShard)
      }
    val surviving = counts.join(del, col(idCol) === col("__del_id"), "left_anti")
    repackFromBoundary(runningOffset(surviving, orderCol, "__n", groupOf),
      surviving.select(col(orderCol), col(tokensCol)), orderCol,
      tokensCol, capacity, chunksPerShard, boundaryShard, dir, oldManifest)
  }

  /** Incremental repack against an ARBITRARY prior packing input — the
    * generalization of [[deleteAndRepack]] a refresh needs when the new
    * stream differs by more than deletions (documents added, changed,
    * reordered by shifted global thresholds): diff the prior and new
    * packing inputs as (order key, token count, content fingerprint)
    * frames — counts-only, no token materialization — take the FIRST
    * differing key's stream position (the two streams are identical
    * before it, so its offset agrees on whichever side defines it) as
    * the boundary, and hand off to the shared boundary-restricted
    * repack: shards strictly before the boundary are untouched, the
    * suffix recomputes from the new stream, and only shards whose
    * fingerprint actually changed are written.
    *
    * `oldInput`: (orderCol, countCol, fpCol) — the PRIOR run's packing
    * input, persisted as an artifact next to the manifest. `newDocs`:
    * (orderCol, tokensCol, fpCol) — the new stream. If `newDocs` ALSO
    * carries `countCol`, it is trusted as the per-row token count
    * (contract: it must equal `size(tokensCol)`) — the prefix sum then
    * never evaluates the token expression, so a lazily-tokenizing
    * stream (tokens derived from text) materializes tokens ONLY for
    * the suffix the repack actually rewrites. `fpCol` must be a
    * CONTENT-sensitive hash of the raw token stream (e.g. md5 of the
    * raw text) — a normalized fingerprint (lowercased, whitespace-
    * collapsed) would classify a case-only edit as unchanged and leave
    * its stale shard on disk (ADVICE r13). Returns the post-refresh
    * manifest with `status` like [[deleteAndRepack]], passed through
    * `decorate` before its one eager checkpoint (a caller that adds
    * columns to every row pays no second checkpoint for them).
    */
  def incrementalRepack(oldInput: DataFrame, newDocs: DataFrame,
      orderCol: String, tokensCol: String, fpCol: String, countCol: String,
      capacity: Long, groupOf: Column, chunksPerShard: Long, dir: String,
      oldManifest: DataFrame,
      forcedBoundaryShard: Option[Long] = None,
      payloadOverride: Option[DataFrame] = None,
      keysValidated: Boolean = false,
      decorate: DataFrame => DataFrame = identity): DataFrame = {
    // payloadOverride: (orderCol, tokensCol) supplied SEPARATELY from the
    // counts-only newDocs — the lifecycle cycle passes its just-written
    // pack_input as newDocs (so the diff/prefix-sum passes re-read a tiny
    // immutable parquet frame instead of re-deriving the dedup pipeline
    // per action) and the raw store scan as payload; rows absent from
    // newDocs fall out of the suffix equi-join, so the payload may be a
    // SUPERSET of the packed stream.
    val payload = payloadOverride.getOrElse(
      newDocs.select(col(orderCol), col(tokensCol)))
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(chunksPerShard > 0,
      s"chunksPerShard must be positive, got $chunksPerShard")
    // adversarial-input guards (VERDICT r13 #7): a duplicate order key
    // makes the old/new full-outer diff a cross product and the stream
    // order nondeterministic — fail loudly on counts-only frames
    // before any token work. `keysValidated = true` skips the two
    // guard scans for callers that hold uniqueness as an INVARIANT
    // (the lifecycle cycle: its store is keyed by doc_id, duplicate
    // snapshots are rejected at build/diff time) — per cycle that is
    // two fewer full passes over the packing inputs.
    if (!keysValidated) {
      requireUniqueKeys(oldInput.select(col(orderCol)), orderCol,
        "incrementalRepack oldInput")
      requireUniqueKeys(newDocs.select(col(orderCol)), orderCol,
        "incrementalRepack newDocs")
    }
    val newCounts =
      if (newDocs.columns.contains(countCol))
        newDocs.withColumn("__n", coalesce(col(countCol).cast("long"), lit(0L)))
      else newDocs
        .withColumn("__n", coalesce(size(col(tokensCol)).cast("long"), lit(0L)))
    forcedBoundaryShard.foreach { b =>
      // the crash-REPAIR entry (LifecycleOps.refreshTo): the caller
      // already knows the streams cannot be trusted to share a prefix
      // (oldManifest is disk-derived), so skip the diff and recompute
      // from shard `b` — rewriting still only touches shards whose
      // fingerprint differs from oldManifest
      val off = runningOffset(newCounts, orderCol, "__n", groupOf)
      return repackFromBoundary(off, payload, orderCol,
        tokensCol, capacity, chunksPerShard, b, dir, oldManifest, decorate)
    }
    // the boundary is the FIRST differing key's stream position. The
    // pre-r16 form materialized BOTH sides' two-phase prefix sums just
    // to read one offset out of the diff; but the streams are identical
    // before the first differing key, so (1) that key is the plain
    // MIN over the differing rows of the raw (key, count, fp) diff —
    // no window, no prefix sum — and (2) its offset is Σ count over
    // keys strictly below it, on either side (one conditional-sum scan,
    // run only when a diff exists). Same value as the old
    // min(least(old_off, new_off)) by offset monotonicity in key order;
    // two window+exchange passes over the packing inputs removed
    // (guide §2.4).
    val spark = newDocs.sparkSession
    val firstKey = Eager.described(spark, "first differing key")(oldInput
      .select(col(orderCol).as("__k"), col(countCol).cast("long").as("__on"),
        col(fpCol).as("__ofp"))
      .join(newCounts.select(col(orderCol).as("__k"), col("__n").as("__nn"),
        col(fpCol).as("__nfp")),
        Seq("__k"), "full_outer")
      // null-count nullness doubles as the presence test, exactly like
      // the pre-r16 filter (an absent side pads __on/__nn null; a
      // present-but-null count conservatively flags as differing)
      .filter(col("__on").isNull || col("__nn").isNull ||
        col("__on") =!= col("__nn") || !(col("__ofp") <=> col("__nfp")))
      .agg(min(col("__k"))).collect()(0))
    val boundaryShard: Long =
      if (firstKey.isNullAt(0)) Long.MaxValue
      else {
        val off = Eager.described(spark, "boundary offset")(
          newCounts.filter(col(orderCol) < lit(firstKey.get(0)))
            .agg(coalesce(sum(col("__n")), lit(0L))).collect()(0).getLong(0))
        boundaryShardOf(off, capacity, chunksPerShard)
      }
    repackFromBoundary(runningOffset(newCounts, orderCol, "__n", groupOf),
      payload, orderCol,
      tokensCol, capacity, chunksPerShard, boundaryShard, dir, oldManifest,
      decorate)
  }

  /** Shared boundary-restricted tail of [[deleteAndRepack]] and
    * [[incrementalRepack]]: recompute the new stream's chunks from the
    * boundary shard's first token position (tokens materialize only for
    * overlapping docs — and since the [[chunkAgg]] meta/payload split,
    * never enter the prefix-sum exchange either), diff against the old
    * manifest per shard, write only changed shard dirs (dynamic
    * partition overwrite, the writeShards sort rule), delete removed
    * ones, and return the post-refresh manifest with per-shard status.
    * `newOffsets` is the placement frame (pruned to counts-only
    * columns); `payload` carries (`orderCol`, `tokensCol`).
    */
  private def repackFromBoundary(newOffsets: DataFrame, payload: DataFrame,
      orderCol: String, tokensCol: String,
      capacity: Long, chunksPerShard: Long, boundaryShard: Long,
      dir: String, oldManifest: DataFrame,
      decorate: DataFrame => DataFrame = identity): DataFrame =
    Eager.scoped { ck =>
      val spark = newOffsets.sparkSession
      val startPos = shardStartPos(boundaryShard, capacity, chunksPerShard)
      // consumed by the manifest AND the rewrite; released on every path
      val tailChunks = Eager.described(spark, "tail chunks")(ck(
        chunkAgg(newOffsets, payload, orderCol, tokensCol, capacity,
          startPos)))
      val tailManifest = shardManifest(tailChunks, chunksPerShard)
      val oldTail = oldManifest.filter(col("shard_id") >= boundaryShard)
        .select(col("shard_id"), col("n_chunks").as("__o_chunks"),
          col("n_tokens").as("__o_tokens"), col("shard_fp").as("__o_fp"))
      // the checkpoint pass over the diff also OBSERVES both write sets:
      // whether any shard is rewritten/added (every such row came from
      // tailManifest, i.e. from at least one tailChunks row) and the
      // removed shard ids — no status-count or removed-id job of its own
      val obs = org.apache.spark.sql.Observation()
      val changedP = col("status").isin("rewritten", "added")
      val diff = Eager.described(spark, "shard diff")(ck(
        tailManifest.join(oldTail, Seq("shard_id"), "full_outer")
          .select(col("shard_id"),
            coalesce(col("n_chunks"), col("__o_chunks")).as("n_chunks"),
            coalesce(col("n_tokens"), col("__o_tokens")).as("n_tokens"),
            coalesce(col("shard_fp"), col("__o_fp")).as("shard_fp"),
            when(col("shard_fp").isNull, "removed")
              .when(col("__o_fp").isNull, "added")
              .when(col("shard_fp") === col("__o_fp"), "kept")
              .otherwise("rewritten").as("status"))
          .observe(obs, count(when(changedP, lit(1))).as("n_changed"),
            collect_set(when(col("status") === "removed", col("shard_id")))
              .as("removed"))))
      if (obs.get("n_changed").asInstanceOf[Long] > 0L) {
        val changed = diff.filter(changedP).select("shard_id")
        Eager.described(spark, "shards")(
          tailChunks
            .withColumn("shard_id", chunkOf(col("chunk_id"), chunksPerShard))
            .join(broadcast(changed), Seq("shard_id"), "left_semi")
            .repartition(col("shard_id"))
            .sortWithinPartitions("shard_id", "chunk_id") // the writeShards rule
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id").parquet(dir))
      }
      val removed = obs.get("removed").asInstanceOf[scala.collection.Seq[Any]]
      if (removed.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        removed.foreach { sid =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/shard_id=$sid"), true)
        }
      }
      // the returned frame is SELF-CONTAINED (its own tiny checkpoint of
      // manifest-sized rows, outside the scope): every intermediate block
      // is released here instead of leaking per repack (ADVICE r14's
      // cycle-leak class)
      val (out, _) = Eager.described(spark, "result")(Eager.checkpoint(
        decorate(oldManifest.filter(col("shard_id") < boundaryShard)
          .select(col("shard_id"), col("n_chunks"), col("n_tokens"),
            col("shard_fp"), lit("kept").as("status"))
          .unionByName(diff))))
      out
    }

  /** Sliding-window chunking with overlap — the retrieval/eval-window
    * counterpart of [[packChunks]]: instead of concatenating documents
    * into a global token stream, each document is cut into
    * `width`-token windows every `stride` tokens (stride < width ⇒
    * consecutive chunks overlap by width − stride tokens, the standard
    * RAG chunking shape). Window k of an n-token document starts at
    * token k·stride for every k·stride < n; the last window may be
    * short. Empty documents contribute nothing.
    *
    * Scale shape: a pure map-side generator — tokenize, explode one
    * small index array per document, slice. No shuffle, no state, no
    * window functions; chunk count per document is ⌈n/stride⌉, so the
    * fan-out is bounded by corpus tokens / stride regardless of skew.
    *
    * Output: (`id`, `chunk_idx`, `start_token`, `n_chunk_tokens`,
    * `chunk_fp`) with `chunk_fp` = md5 of the space-joined window — the
    * same digest-not-text convention as [[packChunks]].
    */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(stride > 0 && stride <= width,
      s"stride must be in [1, width], got $stride (width $width)")
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") > 0)
      // Generate is a CollapseProject barrier: __toks materializes once
      // per document here, and the per-chunk slice below reads the
      // attribute, never re-tokenizes
      .select(col("id"), col("__toks"), col("__n"),
        explode(sequence(lit(0L), chunkOf(col("__n") - 1L, stride.toLong)))
          .as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_token"),
        least(lit(width.toLong), col("__n") - col("chunk_idx") * stride)
          .as("n_chunk_tokens"),
        md5(array_join(
          slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(width)), " ")).as("chunk_fp"))
  }

  /** Chunk id of a non-negative offset. Offsets stay under 2^53
    * (≈9e15 tokens ≈ tens of PB of raw text), so after subtracting the
    * remainder the double division is exact.
    */
  /** Length-bucketed batching with padding-waste accounting — the
    * training-loader prep that pairs with [[packChunks]]'s
    * concat-and-chunk: where packing concatenates documents into fixed
    * windows, length-grouped batching keeps documents WHOLE and groups
    * similar lengths so each batch pads only to ITS OWN max (dynamic
    * padding). Docs land in fixed-width length buckets
    * (`len div bucketWidth`), are ordered within each bucket by the
    * portable pseudo-shuffle key (md5(id), id — the house sampling
    * order, so batches are deterministic AND length-decorrelated), and
    * cut into batches of `batchSize`; per bucket the padded volume
    * (Σ_batch max_len · batch_rows) and the waste share in basis
    * points fall out exactly.
    *
    * Shape: ONE exchange on the bucket key (the within-bucket
    * row_number window partitions by bucket — parallel at any scale,
    * never a global sort) feeding one (bucket, batch) hash aggregate
    * and one ≤|buckets|-row rollup. At 100 TB buckets are independent
    * and each task's window state is one running count.
    *
    * Output per bucket: (bucket, n_docs, n_batches, token_volume,
    * padded_volume, waste_bp) where waste_bp =
    * (padded − tokens)·10⁴ div padded.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      s"bucketWidth and batchSize must be >= 1, got $bucketWidth, $batchSize")
    val per = df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokenCount(
          coalesce(col(textCol), lit(""))).as("len"))
      .withColumn("bucket", expr(s"len div $bucketWidth"))
    val batched = per
      .withColumn("batch", expr(
        s"(row_number() OVER (PARTITION BY bucket ORDER BY " +
          s"md5(CAST(id AS STRING)) ASC, id ASC) - 1) div $batchSize"))
    val perBatch = batched.groupBy("bucket", "batch")
      .agg(count(lit(1)).as("nr"), sum("len").as("tokens"),
        max("len").as("maxlen"))
    perBatch.groupBy("bucket")
      .agg(sum("nr").as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum("tokens").as("token_volume"),
        sum(expr("maxlen * nr")).as("padded_volume"))
      .withColumn("waste_bp", expr(
        "((padded_volume - token_volume) * 10000) div greatest(padded_volume, 1)"))
  }

  /** Shard-balance audit: distributional statistics of token mass
    * across a hash-sharding of the corpus — the straggler forecast. A
    * training job's wall-clock is its HEAVIEST shard, and at 100 TB a
    * skewed shard assignment (hot sources, boilerplate-heavy crawls)
    * silently turns a thousand-way parallel epoch into a single-file
    * wait; this is the one-row check run before committing a layout.
    *
    * Statistics, all exact integers: min/max shard token mass, the
    * Gini coefficient in basis points over occupied shards —
    * `((2·Σᵢ i·xᵢ − (n+1)·S)·10⁴) div (n·S)` with ranks by
    * (mass asc, shard asc); equal masses make the rank tie-break
    * immaterial to the sum — and max/mean in basis points (10000 =
    * perfectly balanced; the direct straggler multiplier).
    *
    * Sharding is the engine-portable md5 bucket ([[Sampling
    * .hashBucket]]) so the audit itself replays bit-identically
    * anywhere. Shape: one map-side tokenize + one hash aggregate to
    * ≤nShards rows; ranking and rollup run on that frame alone. Only
    * OCCUPIED shards appear (an unoccupied shard is a zero-cost
    * straggler; n_shards counts occupied ones).
    *
    * Output (one row): (n_shards, total_tokens, min_tokens,
    * max_tokens, gini_bp, max_over_mean_bp).
    */
  def shardBalanceAudit(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import graft.functions.TextFunctions.tokens
    Iterate.loop(docs.sparkSession) { l =>
      // 2 consumers (totals + ranked walk) over the ≤nShards-row frame
      val shards = l.pin(docs.select(
          Sampling.hashBucket(col(idCol), nShards).as("shard"),
          coalesce(size(tokens(col(textCol))).cast("long"), lit(0L))
            .as("n"))
        .groupBy("shard").agg(sum("n").as("tok")))
      val tot = shards.agg(count(lit(1)).as("n_shards"),
        sum("tok").as("total_tokens"),
        min("tok").as("min_tokens"), max("tok").as("max_tokens"))
      val ranked = shards.withColumn("i",
        row_number().over(Window.orderBy(col("tok").asc, col("shard").asc)))
      l.finish(ranked.agg(sum(col("i") * col("tok")).as("ssum"))
        .crossJoin(broadcast(tot))
        .select(col("n_shards"), col("total_tokens"),
          col("min_tokens"), col("max_tokens"),
          // the x10000 rides a DECIMAL(38,0) intermediate: in BIGINT the
          // gini numerator x 10000 wraps near n_shards*total_tokens ~
          // 9e14 (e.g. 64 shards over a ~2e13-token corpus under heavy
          // skew) — silently, in non-ANSI Spark, exactly in the skewed
          // case the audit exists to catch (ADVICE r12). The integral
          // div returns BIGINT; values are unchanged wherever the
          // BIGINT form was in range, so the DuckDB oracle (in-range at
          // test SFs) still matches.
          expr("(cast(2 * ssum - (n_shards + 1) * total_tokens " +
            "as decimal(38,0)) * 10000) " +
            "div (n_shards * greatest(total_tokens, 1))")
            .cast("long").as("gini_bp"),
          expr("(cast(max_tokens as decimal(38,0)) * n_shards * 10000) " +
            "div greatest(total_tokens, 1)")
            .cast("long").as("max_over_mean_bp")))
    }
  }

  private def chunkOf(c: Column, d: Long): Column =
    ((c - pmod(c, lit(d))) / d).cast("long")

  /** Shard containing the token at stream position `offset` —
    * non-negative Long inputs, division never overflows.
    */
  private[graft] def boundaryShardOf(offset: Long, capacity: Long,
      chunksPerShard: Long): Long =
    (offset / capacity) / chunksPerShard

  /** First token position of `boundaryShard` — the inverse of
    * [[boundaryShardOf]], saturated at `Long.MaxValue` instead of
    * wrapping (VERDICT r13 #7: the boundary arithmetic pinned at the
    * Long edges). Saturation is conservative-correct: a start position
    * no Long offset can reach means "recompute nothing", exactly what
    * an unreachable shard boundary means.
    */
  private[graft] def shardStartPos(boundaryShard: Long, capacity: Long,
      chunksPerShard: Long): Long =
    if (boundaryShard == Long.MaxValue) Long.MaxValue
    else if (boundaryShard == 0L) 0L
    else if (chunksPerShard > Long.MaxValue / capacity) Long.MaxValue
    else {
      val perShard = capacity * chunksPerShard
      if (boundaryShard > Long.MaxValue / perShard) Long.MaxValue
      else boundaryShard * perShard
    }

  /** Loud duplicate-order-key rejection for the lifecycle repack entry
    * points: one count aggregate over a single-column frame (no token
    * columns referenced, so a lazily-tokenizing source never
    * tokenizes), short-circuited at the first duplicate.
    */
  private def requireUniqueKeys(keys: DataFrame, keyCol: String,
      what: String): Unit = {
    val dup = keys.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"$what holds a duplicate order key $keyCol='${dup(0).get(0)}' — " +
          "the packing order key must be unique (the stream order and " +
          "the old/new diff are undefined under duplicates)")
  }
}
