package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SNAPSHOT / TIME-TRAVEL reads over an append-only versioned table —
  * the lakehouse `VERSION AS OF` primitive (Delta time travel / Iceberg
  * snapshots, re-expressed Spark-first), completing the table-lifecycle
  * family next to io7 compaction and io11 deletion vectors.
  *
  * Layout: `root/data/v=<n>/` holds version n's data files. The
  * `(version, path)` log lives in IMMUTABLE manifest GENERATIONS
  * (`root/manifest/g=<gen>/`, each a complete snapshot of the log), and
  * the live one is named by the `root/manifest/_current` [[PointerFile]],
  * whose update is ONE atomic rename. A commit writes data first, then a
  * new generation, then swaps the pointer — the Delta commit protocol.
  * Every crash state reads consistently: a data dir or a generation
  * without a pointer swap is invisible (spec-asserted), and the swap
  * either happened entirely or not at all.
  *
  * A versioned READ plans from the live generation, not from directory
  * listing: `VERSION AS OF n` = scan exactly the paths of rows with
  * `version <= n`. The manifest collect is file-batch-sized — the same
  * driver-side planning step every production table format runs —
  * while the data scan stays fully distributed with pushdown intact
  * (it is a plain multi-path parquet scan). Later commits never touch
  * earlier version dirs, so an as-of read is byte-stable forever —
  * snapshot isolation by construction.
  *
  * Writers: one logical writer per VERSION ([[commit]]'s contract;
  * retries dedup); INDEPENDENT concurrent appenders go through
  * [[appendNext]], which picks the version under the commit lock so
  * exactly one writer wins each version number. Readers are
  * concurrent-safe because generations are never mutated, only
  * superseded and later swept.
  */
object Snapshots {

  private def ptrPath(root: String) = s"$root/manifest/_current"

  /** The live generation number, read through the pointer; None before
    * the first commit.
    */
  private[graft] def currentGen(
      spark: SparkSession, root: String): Option[Long] =
    PointerFile.read(spark, ptrPath(root)).map(_.toLong)

  /** Write generation `gen` as a complete manifest snapshot. NOT yet
    * visible — visibility is [[swapPointer]]'s job (the two are split
    * so the crash window between them is unit-testable).
    */
  private[graft] def writeManifestGen(
      spark: SparkSession,
      root: String,
      gen: Long,
      rows: Seq[(Int, String)]): Unit = {
    import spark.implicits._
    rows.toDF("version", "path")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/manifest/g=$gen")
  }

  /** Atomically point `_current` at `gen` — the only mutation any
    * reader can observe.
    */
  private[graft] def swapPointer(
      spark: SparkSession, root: String, gen: Long): Unit =
    PointerFile.write(spark, ptrPath(root), gen.toString)

  private def rowsOf(
      spark: SparkSession,
      root: String,
      gen: Option[Long]): Seq[(Int, String)] =
    gen match {
      case None => Seq.empty
      case Some(g) =>
        spark.read.parquet(s"$root/manifest/g=$g")
          .select(col("version"), col("path"))
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    }

  private def currentRows(
      spark: SparkSession, root: String): Seq[(Int, String)] =
    rowsOf(spark, root, currentGen(spark, root))

  // serializes the observe → write-generation → swap critical section
  // across writers in THIS JVM; cross-process exclusivity comes from
  // the CREATE-EXCLUSIVE claim file each section also takes (see
  // [[CommitClaim]] — the HDFS put-if-absent primitive with
  // stale-claim breaking; the same pairing as LakeTable's commitLock)
  private val commitLock = new Object

  /** The one publish step, under the commit lock + claim: `next` sees
    * the live generation and returns the rows of the next one (None
    * refuses the publish); those rows become generation live + 1 and
    * the pointer swaps to it. Returns the published rows.
    */
  private def publish(spark: SparkSession, root: String)(
      next: Option[Long] => Option[Seq[(Int, String)]])
      : Option[Seq[(Int, String)]] =
    commitLock.synchronized {
      CommitClaim.withClaim(spark, s"$root/manifest") {
        val live = currentGen(spark, root)
        val rows = next(live)
        rows.foreach { rs =>
          val gen = live.getOrElse(0L) + 1L
          writeManifestGen(spark, root, gen, rs)
          swapPointer(spark, root, gen)
        }
        rows
      }
    }

  /** Commit `df` as version `version`: data dir first, then a NEW
    * manifest generation (previous rows + this one, deduped — a retried
    * commit converges instead of double-listing), then the atomic swap.
    * A crash before the swap leaves the new generation invisible; the
    * retry overwrites both idempotently.
    *
    * CONTRACT: `version` identifies ONE logical commit — this call is
    * for the single writer that owns it (and its retries, which dedup).
    * Two INDEPENDENT writers must not name the same version (they
    * would race the same data dir); independent appenders use
    * [[appendNext]], which picks the version under the commit lock.
    */
  def commit(df: DataFrame, root: String, version: Int): Unit = {
    val spark = df.sparkSession
    val path = s"$root/data/v=$version"
    df.write.mode(SaveMode.Overwrite).parquet(path)
    publish(spark, root) { live =>
      Some((rowsOf(spark, root, live) :+ ((version, path))).distinct)
    }
  }

  /** OPTIMISTIC APPEND for INDEPENDENT writers: stage the batch under
    * a collision-free token path, then — under the commit lock —
    * observe the head, take `head + 1`, publish, swap. A writer that
    * loses the observe race simply lands at the NEXT version (its
    * staged data dir is already unique, nothing is re-staged); exactly
    * one writer wins each version number, every append lands exactly
    * once. Returns the version this batch committed as.
    */
  def appendNext(df: DataFrame, root: String): Int = {
    val spark = df.sparkSession
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val stage = s"$root/data/a=$tok"
    df.write.mode(SaveMode.Overwrite).parquet(stage)
    val published = publish(spark, root) { live =>
      val prev = rowsOf(spark, root, live)
      Some(prev :+ ((prev.map(_._1).foldLeft(0)(math.max) + 1, stage)))
    }
    published.get.last._1
  }

  /** Newest committed version; None before the first commit. What a
    * change-feed consumer's poll compares its committed offset against
    * (manifest-sized driver work).
    */
  def headVersion(spark: SparkSession, root: String): Option[Int] = {
    val rows = currentRows(spark, root)
    if (rows.isEmpty) None else Some(rows.map(_._1).max)
  }

  /** `VERSION AS OF asOf`: scan exactly the committed batches with
    * `version <= asOf`, planned from the live generation only — every
    * crash state of a writer reads consistently. Fails loudly when
    * nothing is committed at or before `asOf` (an empty table is a
    * caller bug, not an empty scan).
    */
  def readVersion(spark: SparkSession, root: String, asOf: Int): DataFrame = {
    val paths = currentRows(spark, root)
      .filter(_._1 <= asOf).map(_._2).distinct.sorted
    require(paths.nonEmpty, s"no committed version <= $asOf under $root")
    spark.read.parquet(paths: _*)
  }

  /** The live rows, and those with `fromExclusive < version <=
    * toInclusive` — the plan both change reads share.
    */
  private def rowsInRange(
      spark: SparkSession,
      root: String,
      fromExclusive: Int,
      toInclusive: Int): (Seq[(Int, String)], Seq[(Int, String)]) = {
    require(
      fromExclusive <= toInclusive,
      s"empty range: from $fromExclusive (exclusive) to $toInclusive")
    val rows = currentRows(spark, root)
    require(rows.nonEmpty, "nothing committed — not a table")
    (rows, rows.filter(r => r._1 > fromExclusive && r._1 <= toInclusive))
  }

  /** INCREMENTAL CONSUMPTION (io14 — the Delta change-data-feed /
    * Iceberg incremental-scan primitive, in the append-only model where
    * a "change" is a committed batch): scan exactly the batches with
    * `fromExclusive < version <= toInclusive` — what a downstream
    * consumer reads per poll instead of re-scanning the table. "No new
    * batches" is a NORMAL poll result, so the empty case returns an
    * empty frame of the table's schema (taken from the newest committed
    * batch) rather than failing; an entirely empty table is still a
    * caller bug and fails loudly. Planning cost is manifest-sized, the
    * scan reads ONLY the delta bytes — the property that makes a daily
    * 100 TB refresh read gigabytes, not the lake.
    */
  def changesSince(
      spark: SparkSession,
      root: String,
      fromExclusive: Int,
      toInclusive: Int): DataFrame = {
    val (rows, hit) = rowsInRange(spark, root, fromExclusive, toInclusive)
    val paths = hit.map(_._2).distinct.sorted
    if (paths.nonEmpty) spark.read.parquet(paths: _*)
    // a poll that found nothing new: empty frame, table schema
    else spark.read.parquet(rows.maxBy(_._1)._2).limit(0)
  }

  /** [[changesSince]] with COMMIT-VERSION ATTRIBUTION — the
    * `_commit_version` column Delta's change feed carries. A consumer
    * whose poll spans several commits needs it to reduce the delta to
    * latest-per-key BEFORE merging downstream (two commits may restate
    * the same key; a keyed upsert must apply only the newest). The plan
    * is the per-batch scans unioned (batch-count-sized union, each
    * branch a plain pushdown-intact parquet scan — the version is a
    * literal, it costs nothing).
    */
  def changesSinceVersioned(
      spark: SparkSession,
      root: String,
      fromExclusive: Int,
      toInclusive: Int): DataFrame = {
    val (rows, inRange) =
      rowsInRange(spark, root, fromExclusive, toInclusive)
    val hit = inRange
      .groupBy(_._2).map { case (p, vs) => (vs.map(_._1).max, p) }
      .toSeq.sortBy(_._1)
    if (hit.nonEmpty)
      hit.map { case (v, p) =>
        spark.read.parquet(p).withColumn("_commit_version", lit(v))
      }.reduce(_.unionByName(_))
    else
      spark.read.parquet(rows.maxBy(_._1)._2).limit(0)
        .withColumn("_commit_version", lit(0))
  }

  /** The checkpoint step of [[expire]] against the live generation:
    * consolidate the ≤ cut state into `ckpt=<cut>` (skipped when the
    * history below the cut is already exactly that checkpoint — the
    * idempotent re-expire, which must not read the checkpoint dir while
    * overwriting it), return the rows the next generation should carry.
    */
  private[graft] def checkpoint(
      spark: SparkSession, root: String, cut: Int): Seq[(Int, String)] = {
    val all = currentRows(spark, root).distinct
    require(all.exists(_._1 <= cut), s"nothing committed at or before $cut")
    val ckptPath = s"$root/data/ckpt=$cut"
    val alreadyFolded =
      all.filter(_._1 <= cut).map(_._2).distinct == Seq(ckptPath)
    if (!alreadyFolded)
      readVersion(spark, root, cut)
        .write.mode(SaveMode.Overwrite).parquet(ckptPath)
    ((cut, ckptPath)) +: all.filter(_._1 > cut)
  }

  /** Sweep everything the live generation does not reference: expired
    * and orphaned data dirs AND superseded manifest generations. Pure
    * cleanup — skipping it (a crash after the swap) costs disk, never
    * correctness. Two safety rails (r15 advice #2 — the unserialized,
    * ungated sweep could delete a CONCURRENT appender's work):
    *
    *  - the live state is re-read UNDER the commit lock + claim, so a
    *    generation published between a stale read and the deletes can
    *    never lose its just-referenced data dir;
    *  - unreferenced dirs AGE-GATE on `graceMs` (LakeTable.sweep's
    *    discipline): an [[appendNext]] stager writes its `a=<tok>`
    *    dir BEFORE taking the lock, and only time distinguishes that
    *    in-flight dir from a crashed writer's corpse. Pass 0 in
    *    single-writer maintenance to collect everything now — the
    *    VACUUM tradeoff, stated.
    */
  private[graft] def sweep(
      spark: SparkSession,
      root: String,
      graceMs: Long = 15L * 60L * 1000L): Unit = {
    import org.apache.hadoop.fs.Path
    commitLock.synchronized {
      CommitClaim.withClaim(spark, s"$root/manifest") {
        val gen = currentGen(spark, root)
          .getOrElse(sys.error(s"no committed manifest under $root"))
        val keepNames = currentRows(spark, root)
          .map(p => new Path(p._2).getName).toSet
        val fs = new Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val now = System.currentTimeMillis()
        val dataDir = new Path(s"$root/data")
        if (fs.exists(dataDir))
          fs.listStatus(dataDir)
            .filter(st => !keepNames.contains(st.getPath.getName) &&
              now - st.getModificationTime >= graceMs)
            .foreach(st => fs.delete(st.getPath, true))
        val manDir = new Path(s"$root/manifest")
        fs.listStatus(manDir)
          .filter(st => st.getPath.getName.startsWith("g=") &&
            st.getPath.getName != s"g=$gen" &&
            now - st.getModificationTime >= graceMs)
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
  }

  /** EXPIRATION / VACUUM (io12b/io12c — Delta `VACUUM` + checkpoint,
    * Iceberg `expireSnapshots`). In a pure-append model every batch is
    * referenced by EVERY later snapshot, so old batches can never just
    * be unlinked — expiration must first CHECKPOINT the full state as
    * of `cut` into one new data dir (a distributed read of the old
    * dirs, paid once — the cost every format's checkpoint pays). Three
    * steps, each crash window unit-tested to read consistently:
    * checkpoint (invisible until published) → publish `(cut,
    * checkpoint) ∪ rows > cut` (ONE atomic pointer rename) → sweep
    * (pure cleanup of expired dirs, crashed commits' orphans and
    * superseded generations; a lost sweep is re-swept by the next
    * expire). Re-expiring at the same cut is idempotent end to end.
    * Afterwards `readVersion(asOf ≥ cut)` is BYTE-STABLE (checkpoint ∪
    * the retained later batches ≡ the old union) and `readVersion(asOf
    * < cut)` FAILS LOUDLY — history below the cut is retired, not
    * silently empty. `graceMs` rides through to [[sweep]]: the default
    * retains young unreferenced dirs (a concurrent appender's staged
    * batch); single-writer maintenance passes 0 to collect now.
    *
    * The publish is OPTIMISTIC against the generation the checkpoint
    * observed: the (expensive) checkpoint runs outside the lock, and
    * the swap lands only if the pointer still names that generation —
    * a commit that slipped in between would otherwise be silently
    * DROPPED from the expired manifest (its rows are absent from the
    * stale `kept` list: lost update, then data loss at the next
    * sweep). A lost race re-checkpoints against the new state, and
    * after a few losses the retry ESCALATES: the final attempt runs
    * checkpoint AND publish inside the commit lock + claim, briefly
    * blocking committers instead of starving forever under constant
    * commit traffic — optimism with a bounded-starvation fallback.
    */
  def expire(
      spark: SparkSession,
      root: String,
      cut: Int,
      graceMs: Long = 15L * 60L * 1000L): Unit = {
    var published = false
    var attempts = 0
    while (!published && attempts < 4) {
      attempts += 1
      val observed = currentGen(spark, root)
      val kept = checkpoint(spark, root, cut)
      published = publish(spark, root) { live =>
        if (live == observed) Some(kept) else None
      }.nonEmpty
    }
    if (!published)
      // escalation: checkpoint under the lock — committers wait one
      // checkpoint's length, the expire cannot be starved
      publish(spark, root)(_ => Some(checkpoint(spark, root, cut)))
    sweep(spark, root, graceMs)
  }
}
