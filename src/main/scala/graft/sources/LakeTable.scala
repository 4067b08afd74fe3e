package graft.sources

import org.apache.spark.sql.{
  AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** KEYED lake table with a STATS manifest — the WRITE-path close of the
  * snapshot family: [[Snapshots]] gives the append-only versioned log
  * (time travel, CDF, expire); this gives the CURRENT-STATE table a
  * pipeline MERGEs into (the Delta `MERGE INTO` / Iceberg
  * copy-on-write-upsert shape, re-expressed Spark-first), with per-batch
  * key min/max carried IN the manifest so both reads and merges prune
  * at planning time — Iceberg's core trick, and the property that makes
  * a 100 TB daily upsert rewrite only the batches it touches.
  *
  * Layout (the io12c atomic-pointer discipline, extended for MULTIPLE
  * OPTIMISTIC WRITERS): `root/data/v=<n>-<token>/` immutable data
  * batches; `root/manifest/g=<n>-<token>/` immutable manifest
  * GENERATIONS, each a complete `(batch, path, kmin, kmax)` snapshot of
  * the live file set; the live generation is named by the
  * `root/manifest/_current` pointer whose update is ONE atomic rename,
  * guarded by a validate step (see the OCC notes below). Unique
  * `<token>` suffixes keep concurrent stagers off each other's paths.
  * A reader plans from the pointer, so a writer crash (or lost race)
  * at any step leaves a readable table.
  *
  * CONTRACT: the key column is a non-null LONG and UNIQUE across the
  * table — the primary-key reading every upsert system assumes. [[merge]]
  * preserves it (it checks the SOURCE side and can only replace-or-insert
  * by key); [[append]] trusts the caller for cross-batch disjointness
  * (documented — merge is the safe path). Unlike [[Snapshots]], batch
  * numbers name data dirs, not history: [[read]] always returns the live
  * state and time travel is not claimed (that is Snapshots' job —
  * a state-mutating merge cannot be expressed as append-only history
  * without row-level change rows).
  *
  * Scale notes: driver work is manifest-sized everywhere (the batch
  * list, the candidate-batch list, scalar stats of the source — the
  * planning step every production table format runs); the candidate
  * probe is a broadcast of the MANIFEST against the source keys (range
  * intersection — manifest-sized per row, exactly the per-file interval
  * check Iceberg planning does); the merge's full-outer join shuffles
  * only `touched ∪ source`, never the table; and the pure-insert fast
  * path (no source key in any batch range — the "today's ids are new"
  * shape) writes the source and touches NOTHING else.
  *
  * Reference anchor: the reference persists iteration state as
  * immutable per-step directories and re-plans from the newest
  * (`PageRankDriver.java:121-122,177-185`); the manifest-generation +
  * pointer model here is that idea carried to a multi-batch table.
  */
object LakeTable {

  /** SECONDARY-column stats for a batch (Iceberg's per-file column
    * bounds): `col2`'s values in this batch all lie in [lo, hi]. A
    * batch carries a LIST of these — one per tracked column (r16
    * verdict #6: a table z-ordered on (user, day) also wants
    * time-pruning on a shipment-date column; Delta/Iceberg carry
    * per-column stats maps). Written by [[compactZ]] (its `statCols`);
    * absent on plain appends (pruning on an untracked column keeps the
    * batch — conservative the safe way round); carried through
    * merge/applyChanges/deleteRange/compact by [[unionSecStat]].
    */
  final case class SecStat(col2: String, lo: Long, hi: Long)

  /** One live manifest row: data batch `batch` at `path` whose keys all
    * lie in [kmin, kmax], plus per-column secondary bounds (at most one
    * [[SecStat]] per column name).
    */
  final case class BatchStat(
      batch: Int,
      path: String,
      kmin: Long,
      kmax: Long,
      sec: Seq[SecStat] = Nil)

  // ---- OCC manifest addressing ----
  //
  // MULTI-WRITER safety (the contract the rest of the snapshot family
  // leaves to "single writer assumed"): every write is OPTIMISTIC —
  // observe the live generation, plan and stage against it (unique
  // generation and data dir names, so concurrent stagers never collide
  // on a path), then VALIDATE-AND-SWAP: publish only if the pointer
  // still names the observed generation, otherwise throw the staged
  // work away and REBASE (re-plan against the new state) — the Delta
  // commit protocol. The validate-and-swap itself is guarded twice:
  // a JVM-wide lock serializes in-process writers cheaply, and a
  // CREATE-EXCLUSIVE claim file (see [[CommitClaim]] — the HDFS
  // put-if-absent primitive, with stale-claim breaking) serializes
  // writers ACROSS processes; the OCC protocol around them (observe,
  // stage, validate, swap, rebase-on-conflict) is filesystem-agnostic
  // and is what the tests lock.

  private val commitLock = new Object

  private def token(): String =
    java.util.UUID.randomUUID().toString.take(8)

  private def ptrPath(root: String) = s"$root/manifest/_current"

  /** The live generation's manifest dir name (e.g. `g=3-4fa1c2b0`);
    * None before the first commit. The leading ordinal is
    * monotonically increasing; the suffix keeps concurrent stagers
    * from ever sharing a path.
    */
  private[graft] def currentName(
      spark: SparkSession, root: String): Option[String] =
    PointerFile.read(spark, ptrPath(root))

  def isInitialized(spark: SparkSession, root: String): Boolean =
    currentName(spark, root).nonEmpty

  private[graft] def ordinal(name: String): Long =
    name.stripPrefix("g=").takeWhile(_ != '-').toLong

  /** The live batch list plus the generation it was read from — the
    * OBSERVATION every optimistic writer plans against and later
    * validates.
    */
  private[graft] def currentState(
      spark: SparkSession,
      root: String): (Seq[BatchStat], Option[String]) = {
    val (rows, obs, _) = currentStateKeyed(spark, root)
    (rows, obs)
  }

  /** [[currentState]] plus the MANIFEST KEY — the key column name the
    * table was committed under (r15 advice #1: every keyed op names a
    * key, and classifying batches by kmin/kmax against the WRONG
    * column would silently drop or duplicate rows; the manifest is the
    * one place the true key can live). None only for manifests written
    * before the field existed (they validate permissively and are
    * stamped by their next publish).
    */
  private[graft] def currentStateKeyed(
      spark: SparkSession,
      root: String): (Seq[BatchStat], Option[String], Option[String]) =
    currentName(spark, root) match {
      case None => (Seq.empty, None, None)
      case some @ Some(name) =>
        val (rows, k) = readManifest(spark, s"$root/manifest/$name")
        (rows, some, k)
    }

  /** Fail loudly when a keyed op names a key other than the manifest's
    * (a wrong key turns metadata-only pruning into silent data loss —
    * the r15 advice scenario). A manifest predating the field accepts
    * any key, honestly permissive.
    */
  private def requireKeyMatches(
      stored: Option[String], key: String, root: String): Unit =
    stored.foreach(k => require(
      k == key,
      s"key mismatch: the table at $root is keyed by '$k' (manifest-" +
        s"recorded), got '$key' — keyed ops must name the manifest key"))

  /** One manifest dir → (BatchStat rows, manifest key). Secondary
    * stats and the key column are optional — pre-extension manifests
    * lack the columns entirely.
    */
  private def readManifest(
      spark: SparkSession, dir: String): (Seq[BatchStat], Option[String]) = {
    val df = spark.read.parquet(dir)
    // three manifest vintages read transparently (generation manifests
    // are immutable, so time travel/CDF must parse whatever shape the
    // write that created them used): no sec columns at all; the legacy
    // single-column flat form (col2/k2min/k2max); the per-column array
    // form (sec_cols/sec_los/sec_his)
    val hasSecArr = df.columns.contains("sec_cols")
    val hasSec = df.columns.contains("col2")
    val hasKey = df.columns.contains("kcol")
    val cols =
      Seq(col("batch"), col("path"), col("kmin"), col("kmax")) ++
        (if (hasSecArr) Seq(col("sec_cols"), col("sec_los"), col("sec_his"))
         else if (hasSec) Seq(col("col2"), col("k2min"), col("k2max"))
         else Nil) ++
        (if (hasKey) Seq(col("kcol")) else Nil)
    val collected = df.select(cols: _*).collect()
    val rows = collected.map { r =>
      val sec: Seq[SecStat] =
        if (hasSecArr && !r.isNullAt(4)) {
          val cs = r.getSeq[String](4)
          val los = r.getSeq[Long](5)
          val his = r.getSeq[Long](6)
          cs.indices.map(i => SecStat(cs(i), los(i), his(i)))
        } else if (!hasSecArr && hasSec && !r.isNullAt(4))
          Seq(SecStat(r.getString(4), r.getLong(5), r.getLong(6)))
        else Nil
      BatchStat(r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), sec)
    }.toSeq
    val key =
      if (!hasKey) None
      else collected.headOption.flatMap(r =>
        Option(r.getString(if (hasSecArr || hasSec) 7 else 4)))
    (rows, key)
  }

  private[graft] def currentRows(
      spark: SparkSession, root: String): Seq[BatchStat] =
    currentState(spark, root)._1

  /** Publish a new generation IFF the pointer still names `observed` —
    * the validate-and-swap. A refused publish costs nothing on disk
    * (validation runs BEFORE the manifest write, inside the lock, so a
    * loser never leaves a half-staged generation and a winner's sweep
    * can never collect an in-flight one); the big staging work — the
    * DATA dirs — happened outside, and a loser's data dir becomes an
    * unreferenced orphan the age-gated sweep collects later.
    */
  private[graft] def publishIfCurrent(
      spark: SparkSession,
      root: String,
      rows: Seq[BatchStat],
      observed: Option[String],
      key: Option[String] = None): Boolean = {
    import spark.implicits._
    // the JVM lock serializes in-process writers cheaply; the claim
    // file serializes ACROSS processes (create-exclusive put-if-absent
    // — see CommitClaim; the r15 verdict's cross-JVM gap)
    commitLock.synchronized {
      // the manifest key: what the writer validated against, or — for
      // a key-less republish (tests, the io19 stale-publish probe) —
      // whatever the observed generation recorded. Read OUTSIDE the
      // claim: generation manifests are immutable, and every spark job
      // inside the claim-held window stretches the lease other writers
      // wait on.
      val kcol: Option[String] = key.orElse(observed.flatMap(o =>
        try readManifest(spark, s"$root/manifest/$o")._2
        catch {
          // superseded and swept since observed: the pointer moved, so
          // the validate below refuses this publish anyway. Any other
          // read failure propagates — publishing without the recorded
          // key would silently drop the key guard.
          case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
            None
        }))
      CommitClaim.withClaim(spark, s"$root/manifest") {
      if (currentName(spark, root) != observed) false
      else {
        val name =
          s"g=${observed.map(ordinal).getOrElse(0L) + 1L}-${token()}"
        rows.distinct
          .map(b => (b.batch, b.path, b.kmin, b.kmax,
            b.sec.map(_.col2), b.sec.map(_.lo), b.sec.map(_.hi), kcol))
          .toDF("batch", "path", "kmin", "kmax",
            "sec_cols", "sec_los", "sec_his", "kcol")
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/manifest/$name")
        PointerFile.write(spark, ptrPath(root), name)
        true
      }
      }
    }
  }

  /** Run an optimistic write body until its validate-and-swap lands;
    * each attempt re-observes and re-plans (the rebase — a lost race
    * re-executes the attempt's staging work, the documented OCC cost
    * under contention). Fails loudly after `attempts` lost races.
    */
  private def retryOcc[T](what: String, attempts: Int = 5)(
      body: => Option[T]): T = {
    var i = 0
    while (i < attempts) {
      // a claim-wait TIMEOUT is a lost race, not a failure (r16 advice
      // #2): a cross-process peer held the commit claim longer than the
      // wait budget (its claimed section can span a Spark manifest
      // write), so back off and re-run the whole observe/stage/publish
      // attempt — exactly what a lost validate does
      try {
        body match {
          case Some(t) => return t
          case None => i += 1
        }
      } catch {
        case _: ClaimTimeoutException =>
          i += 1
          if (i < attempts) Thread.sleep(200L * i)
      }
    }
    sys.error(
      s"$what lost $attempts optimistic-commit races — rebase budget " +
        "exhausted under write contention")
  }

  /** (rowCount, distinctKeys, kmin, kmax) of `df` in ONE scan — the
    * uniqueness check and the manifest stats share the pass.
    */
  private def keyStats(
      df: DataFrame, key: String): (Long, Long, Long, Long) = {
    val r = df.agg(
      count(lit(1)), count(col(key)), countDistinct(col(key)),
      min(col(key)), max(col(key))).collect()(0)
    require(
      r.getLong(0) == r.getLong(1),
      s"null $key values — the key column must be non-null")
    if (r.getLong(0) == 0L) (0L, 0L, 0L, 0L)
    else (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** SECONDARY bounds for a rewrite batch, derived WITHOUT scanning
    * the rewrite (r15 verdict #4 — a routine merge after [[compactZ]]
    * must not forfeit io23's second-dimension pruning): every row of
    * the rewrite comes from a touched batch or from `source`, so when
    * every touched batch carries bounds for ONE secondary column and
    * the source has that column, the union of those bounds with the
    * source's min/max (one scalar agg over the source — the only cost,
    * and only paid by tables that were z-compacted) contains every
    * rewritten value. Conservative the safe way round: replaced rows
    * can only leave the bounds WIDER than exact; a batch that can't be
    * bounded gets no stat and pruning keeps it. Source rows with a
    * null secondary value are ignorable: a range probe's predicate
    * never matches null, so pruning a batch that holds them loses
    * nothing. `source = None` is the ROW-REMOVAL form (deleteRange
    * straddlers): no new values can appear, so the touched union alone
    * bounds the rewrite.
    */
  private def unionSecStat(
      touched: Seq[BatchStat],
      source: Option[DataFrame]): Seq[SecStat] = {
    // per COLUMN: only a column every touched batch bounds can bound
    // the rewrite (a batch without the stat may hold any value); the
    // columns are independent, so one unboundable column never costs
    // the others their stats (the r16 multi-column generalization)
    val cols2 = touched.flatMap(_.sec.map(_.col2)).distinct
      .filter(c => touched.forall(_.sec.exists(_.col2 == c)))
    if (touched.isEmpty) Nil
    else {
      // ONE scalar agg over the source covers every bounded column
      val srcCols = source.toSeq.flatMap { src =>
        cols2.filter(c => src.columns.contains(c) &&
          src.schema(c).dataType == org.apache.spark.sql.types.LongType)
      }
      val srcBounds: Map[String, Option[(Long, Long)]] = source match {
        case Some(src) if srcCols.nonEmpty =>
          val exprs = srcCols.flatMap(c =>
            Seq(min(col(c)).as(s"n_$c"), max(col(c)).as(s"x_$c")))
          val r = src.agg(exprs.head, exprs.tail: _*).collect()(0)
          srcCols.map { c =>
            val iL = r.fieldIndex(s"n_$c")
            val iH = r.fieldIndex(s"x_$c")
            c -> (if (r.isNullAt(iL)) None
                  else Some((r.getLong(iL), r.getLong(iH))))
          }.toMap
        case _ => Map.empty
      }
      cols2.flatMap { c =>
        val cs = touched.flatMap(_.sec.filter(_.col2 == c))
        val (lo0, hi0) = (cs.map(_.lo).min, cs.map(_.hi).max)
        source match {
          case None => Some(SecStat(c, lo0, hi0)) // row-removal rewrite
          case Some(_) if !srcCols.contains(c) => None // source unbounded
          case Some(_) => srcBounds(c) match {
            case None => Some(SecStat(c, lo0, hi0)) // all-null source col
            case Some((sl, sh)) => Some(SecStat(
              c, math.min(lo0, sl), math.max(hi0, sh)))
          }
        }
      }
    }
  }

  /** Append `df` as a new batch: data dir first, then a new manifest
    * generation, then the atomic pointer swap. Requires `key` non-null
    * and unique WITHIN `df`; cross-batch key disjointness is the
    * caller's (use [[merge]] when unsure). Rejects an empty frame —
    * an empty batch has no stats and a caller appending one has a bug.
    */
  def append(df: DataFrame, root: String, key: String): Unit = {
    val (n, nd, kmin, kmax) = keyStats(df, key)
    require(n > 0, "empty batch — nothing to append")
    require(nd == n, s"duplicate $key values within the appended batch")
    appendStatted(df, root, key, kmin, kmax)
  }

  /** [[append]] with the stats already known (merge's internal path —
    * the source scan already produced them; never rescan to restate).
    * Optimistic like every write: a lost race re-stages the batch
    * against the new state.
    */
  private def appendStatted(
      df: DataFrame, root: String, key: String,
      kmin: Long, kmax: Long): Unit = {
    val spark = df.sparkSession
    retryOcc("append") {
      val (prev, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      val next = prev.map(_.batch).foldLeft(0)(math.max) + 1
      val path = s"$root/data/v=$next-${token()}"
      df.write.mode(SaveMode.Overwrite).parquet(path)
      if (publishIfCurrent(
          spark, root, prev :+ BatchStat(next, path, kmin, kmax), obs,
          Some(key)))
        Some(()) // a lost race leaves the staged dir for the next sweep
      else None
    }
  }

  /** The live table state: union of every live batch. Fails loudly on
    * an uninitialized table.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val rows = currentRows(spark, root)
    require(rows.nonEmpty, s"nothing committed under $root")
    // mergeSchema: a schema-evolving merge (io21) leaves carried-by-
    // path batches on the OLD schema — the union read fills their new
    // columns with null (footer-merge cost only, batch-count-sized)
    spark.read.option("mergeSchema", "true")
      .parquet(rows.map(_.path).distinct.sorted: _*)
  }

  /** The batches a `key ∈ [lo, hi]` scan must read — planned from the
    * MANIFEST stats alone, no data bytes touched. Conservative the safe
    * way round: a kept batch may still hold no matching row (the
    * residual filter drops them); a skipped batch provably cannot.
    */
  private[graft] def planPruned(
      rows: Seq[BatchStat], lo: Long, hi: Long): Seq[BatchStat] =
    rows.filter(b => b.kmax >= lo && b.kmin <= hi)

  /** io16: range scan `key BETWEEN lo AND hi` planned from manifest
    * stats — only intersecting batches are read (their paths go to ONE
    * multi-path parquet scan, pushdown intact), the residual filter
    * rides the scan. An empty plan returns an empty frame with the
    * table schema — "no batch can match" is a normal answer.
    */
  def readPruned(
      spark: SparkSession,
      root: String,
      key: String,
      lo: Long,
      hi: Long): DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val (rows, _, tkey) = currentStateKeyed(spark, root)
    require(rows.nonEmpty, s"nothing committed under $root")
    requireKeyMatches(tkey, key, root)
    val kept = planPruned(rows, lo, hi)
    if (kept.isEmpty) emptyFrame(spark, rows)
    else
      spark.read.option("mergeSchema", "true")
        .parquet(kept.map(_.path).distinct.sorted: _*)
        .filter(col(key) >= lo && col(key) <= hi)
  }

  /** The typed empty frame of a fully-pruned probe, on the UNION
    * schema over live batches (r15 advice: deriving from any single
    * batch loses post-evolution columns exactly when the plan prunes
    * to zero — the one case downstream selects would then break).
    * Footer-merge cost only, batch-count-sized.
    */
  private def emptyFrame(
      spark: SparkSession, rows: Seq[BatchStat]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(rows.map(_.path).distinct.sorted: _*).limit(0)

  // ---- time travel + row-level change feed over retained generations ----

  /** On-disk manifest generations, oldest first. Within the sweep
    * retention window this is the full lineage back from the live
    * generation; past it, expired generations have been collected and
    * only the live one is guaranteed present.
    */
  def generations(spark: SparkSession, root: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val manDir = new Path(s"$root/manifest")
    val fs = manDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manDir)) Seq.empty
    else fs.listStatus(manDir)
      .map(_.getPath.getName).filter(_.startsWith("g="))
      .sortBy(ordinal).toSeq
  }

  private[graft] def genRows(
      spark: SparkSession, root: String, gen: String): Seq[BatchStat] =
    genManifest(spark, root, gen)._1

  private def genManifest(
      spark: SparkSession,
      root: String,
      gen: String): (Seq[BatchStat], Option[String]) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$root/manifest/$gen")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      fs.exists(p),
      s"generation $gen is not on disk under $root — either it never " +
        "existed or it aged past the sweep retention window (time " +
        "travel and the change feed read only RETAINED generations)")
    readManifest(spark, s"$root/manifest/$gen")
  }

  /** TIME TRAVEL: the table state as of a retained generation (from
    * [[generations]] or a name captured around a write) — the Delta
    * `VERSION AS OF` / Iceberg snapshot read. Served entirely from the
    * immutable generation manifest; fails loudly once the generation
    * ages past retention.
    */
  def readAt(spark: SparkSession, root: String, gen: String): DataFrame = {
    val rows = genRows(spark, root, gen)
    require(rows.nonEmpty, s"generation $gen has an empty manifest")
    spark.read.option("mergeSchema", "true")
      .parquet(rows.map(_.path).distinct.sorted: _*)
  }

  /** What [[changesBetween]] decided at planning time, exposed so tests
    * and cost-aware callers can assert the zero-work property: carried
    * paths contribute NOTHING to the diff read.
    */
  final case class DiffPlan(
      carried: Seq[String], removed: Seq[String], added: Seq[String])

  private[graft] def diffPlan(
      fromRows: Seq[BatchStat], toRows: Seq[BatchStat]): DiffPlan = {
    val fromPaths = fromRows.map(_.path).toSet
    val toPaths = toRows.map(_.path).toSet
    DiffPlan(
      carried = fromRows.map(_.path).filter(toPaths).sorted,
      removed = fromRows.map(_.path).filterNot(toPaths).sorted,
      added = toRows.map(_.path).filterNot(fromPaths).sorted)
  }

  /** ROW-LEVEL CHANGE FEED (Delta CDF / Iceberg changelog, the NET
    * form): which rows changed between two retained generations, as
    * `(table columns…, _change_type, _generation)` with `_change_type`
    * ∈ {insert, update_pre, update_post, delete} and `_generation` the
    * target generation's ordinal. This is the medallion hop downstream
    * of a MERGE: a consumer reads changes OUT of a table someone else
    * merged into, instead of replaying the CDC input.
    *
    * The plan reuses the merge's own economics AT READ TIME: batches
    * carried BY PATH between the two manifests provably hold identical
    * rows (batches are immutable; per-generation key uniqueness means
    * a carried key cannot also appear in a removed or added batch) and
    * contribute ZERO diff work. Only the symmetric difference —
    * exactly what the intervening writes rewrote — is read: one
    * full-outer join of removed-batch rows vs added-batch rows on the
    * key. A row rewritten byte-identically (an untouched neighbor in a
    * rewritten batch) is NOT a change — equality is null-safe over the
    * full row, so the feed is the true net diff of the two as-of
    * states. Diff cost is therefore proportional to what the writes
    * touched — with one documented exception: a compaction rewrites
    * every path, so diffing ACROSS a compact reads the whole table to
    * prove the feed is empty (consume up to the pre-compact generation
    * first, or pay the scan; stated, not hidden).
    *
    * Net-diff semantics across a multi-write span: intermediate states
    * collapse (insert-then-update reads as one insert of the final
    * row; update-then-delete as one delete of the FROM-state row) —
    * the Iceberg net-changelog contract.
    *
    * Reference anchor: the reference persists each iteration's state
    * as an immutable directory and diffs are implicit in the rank
    * columns (`PageRankDriver.java:121-122,177-185`); here every
    * version is a diffable snapshot with the diff computed only over
    * rewritten files.
    */
  def changesBetween(
      spark: SparkSession,
      root: String,
      key: String,
      fromGen: String,
      toGen: String): DataFrame = {
    require(
      ordinal(fromGen) <= ordinal(toGen),
      s"fromGen $fromGen is newer than toGen $toGen — reverse them")
    val fromRows = genRows(spark, root, fromGen)
    val (toRows, tkey) = genManifest(spark, root, toGen)
    requireKeyMatches(tkey, key, root)
    val plan = diffPlan(fromRows, toRows)

    def readSide(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(paths: _*))
    val preOpt = readSide(plan.removed)
    val postOpt = readSide(plan.added)
    // union schema over BOTH sides (evolution: a post-evolution added
    // batch has columns the removed side lacks, and vice versa)
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      (preOpt.toSeq ++ postOpt.toSeq)
        .flatMap(_.schema.map(f => f.name -> f.dataType)).toMap
    val unionCols: Seq[String] = {
      val pc = preOpt.map(_.columns.toSeq).getOrElse(Nil)
      pc ++ postOpt.map(_.columns.toSeq).getOrElse(Nil)
        .filterNot(pc.contains)
    }
    def align(df: DataFrame): DataFrame =
      unionCols.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(types(c)))
      }.select(unionCols.map(col): _*)
    (preOpt, postOpt) match {
      case (None, None) =>
        // both sides carried — provably no change; typed empty frame
        // on the toGen table schema (unionCols is empty here)
        spark.read.option("mergeSchema", "true")
          .parquet(toRows.map(_.path).distinct.sorted: _*).limit(0)
          .withColumn("_change_type", lit(""))
          .withColumn("_generation", lit(ordinal(toGen)))
      case _ =>
        val empty = (preOpt.orElse(postOpt)).get.limit(0)
        val pre = align(preOpt.getOrElse(empty))
        val post = align(postOpt.getOrElse(empty))
        val aK = col(s"a.$key")
        val bK = col(s"b.$key")
        val aS = struct(unionCols.map(c => col(s"a.$c").as(c)): _*)
        val bS = struct(unionCols.map(c => col(s"b.$c").as(c)): _*)
        pre.as("a")
          .join(post.as("b"), aK === bK, "full_outer")
          // identical rewrites (untouched neighbors in a rewritten
          // batch) are not changes — null-safe full-row equality
          .filter(aK.isNull || bK.isNull || !(aS <=> bS))
          .select(explode(
            when(aK.isNull,
              array(struct(lit("insert").as("ct"), bS.as("row"))))
            .when(bK.isNull,
              array(struct(lit("delete").as("ct"), aS.as("row"))))
            .otherwise(array(
              struct(lit("update_pre").as("ct"), aS.as("row")),
              struct(lit("update_post").as("ct"), bS.as("row"))))
          ).as("ch"))
          .select(
            (unionCols.map(c => col(s"ch.row.$c").as(c)) :+
              col("ch.ct").as("_change_type") :+
              lit(ordinal(toGen)).as("_generation")): _*)
    }
  }

  /** Everything [[merge]]/[[append]] decided, for callers that assert
    * or surface the plan (tests, the io15 row's hash-locked columns).
    */
  final case class MergeReport(
      touched: Seq[Int], untouched: Seq[Int], pureInsert: Boolean)

  /** COPY-ON-WRITE MERGE (upsert): `WHEN MATCHED THEN UPDATE SET *`
    * + `WHEN NOT MATCHED THEN INSERT *` of `source` into the table,
    * by `key`. A matched source row replaces the ENTIRE target row —
    * nulls included (SET *, not COALESCE semantics; a partial-column
    * update is a caller-side projection of read-modify).
    *
    * Plan: (1) one scan of the source yields count/uniqueness/min/max —
    * duplicate or null source keys fail loudly BEFORE any write, an
    * empty source is a no-op poll. (2) candidate batches = those whose
    * [kmin, kmax] contains at least one source key — decided by a
    * broadcast of the manifest ranges against the source keys (exact,
    * distributed, manifest-sized per row); a batch outside every source
    * key provably holds no match and is carried forward BY PATH,
    * untouched. (3) no candidates ⇒ the pure-insert fast path: append
    * the source, rewrite nothing. (4) otherwise touched ∪ source
    * full-outer-join on key into ONE new batch (source row wins when
    * present), whose stats are derived arithmetically from the touched
    * batches' stats ∪ the source stats (the key set of the rewrite IS
    * that union — no second scan). (5) new generation = untouched rows
    * + the new batch, ONE atomic pointer rename, then the sweep of
    * replaced dirs and superseded generations (pure cleanup — a crash
    * that skips it costs disk, never correctness; the next merge's
    * sweep collects it).
    */
  def merge(source: DataFrame, root: String, key: String): MergeReport =
    merge(source, root, key, mergeSchema = false)

  /** [[merge]] with SCHEMA EVOLUTION (io21 — Delta's
    * `mergeSchema`/autoMerge): when `mergeSchema` is true the source
    * may carry NEW columns; the rewritten batch takes the union
    * schema, untouched batches stay on the old schema BY PATH, and
    * [[read]]'s mergeSchema union fills their new columns with null —
    * evolution costs exactly what the merge already paid, never a
    * table rewrite. Dropping or retyping columns stays an error.
    */
  def merge(
      source: DataFrame,
      root: String,
      key: String,
      mergeSchema: Boolean): MergeReport = {
    val spark = source.sparkSession
    require(
      isInitialized(spark, root),
      s"nothing committed under $root — append first")
    val (n, nd, sMin, sMax) = keyStats(source, key)
    if (n == 0L)
      return MergeReport(
        Nil, currentRows(spark, root).map(_.batch), pureInsert = false)
    require(nd == n, s"duplicate $key values in the merge source")

    import spark.implicits._
    retryOcc("merge") {
      val (rows, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      val tableSchema = spark.read.option("mergeSchema", "true")
        .parquet(rows.map(_.path).distinct.sorted: _*).columns.toSeq
      if (mergeSchema)
        require(
          tableSchema.toSet.subsetOf(source.columns.toSet),
          s"schema evolution may only ADD columns: the source is " +
            s"missing ${tableSchema.toSet -- source.columns.toSet}")
      else
        require(
          source.columns.toSeq.sorted == tableSchema.sorted,
          s"source columns ${source.columns.toSeq.sorted} != table " +
            s"columns ${tableSchema.sorted} — MERGE is SET*/INSERT*, " +
            "align the source first (or pass mergeSchema = true)")
      // the union schema: table columns first (stable order), then the
      // source's additions
      val unionCols = tableSchema ++
        source.columns.filterNot(tableSchema.contains)
      val ranges = rows.map(b => (b.batch, b.kmin, b.kmax))
        .toDF("batch", "kmin", "kmax")
      val touchedIds = source.select(col(key).as("k"))
        .join(
          broadcast(ranges),
          col("k") >= col("kmin") && col("k") <= col("kmax"))
        .select(col("batch")).distinct()
        .collect().map(_.getInt(0)).toSet

      if (touchedIds.isEmpty) {
        // pure insert — but validated against the SAME observation the
        // probe ran on: a batch committed meanwhile could contain a
        // source key, so a lost race re-probes, never blind-appends
        val next = rows.map(_.batch).foldLeft(0)(math.max) + 1
        val path = s"$root/data/v=$next-${token()}"
        source.write.mode(SaveMode.Overwrite).parquet(path)
        if (publishIfCurrent(
            spark, root, rows :+ BatchStat(next, path, sMin, sMax), obs,
            Some(key)))
          Some(MergeReport(Nil, rows.map(_.batch), pureInsert = true))
        else None
      } else {
        val (touched, untouched) = rows.partition(b => touchedIds(b.batch))
        val cols = unionCols
        val srcTypes = source.schema.map(f => f.name -> f.dataType).toMap
        // touched batches may predate both the table's and the source's
        // newest columns — null-fill so the SET* projection resolves
        val target0 = spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.path).distinct.sorted: _*)
        val target = cols.foldLeft(target0) { (df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast(srcTypes(c)))
        }
        val src = source.select(cols.map(col): _*)
        val takeS = col(s"s.$key").isNotNull
        val merged = target.as("t")
          .join(src.as("s"), col(s"t.$key") === col(s"s.$key"), "full_outer")
          .select(cols.map(c =>
            when(takeS, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)

        val next = rows.map(_.batch).max + 1
        val path = s"$root/data/v=$next-${token()}"
        merged.write.mode(SaveMode.Overwrite).parquet(path)
        val stat = BatchStat(
          next, path,
          math.min(touched.map(_.kmin).min, sMin),
          math.max(touched.map(_.kmax).max, sMax),
          unionSecStat(touched, Some(src)))
        if (publishIfCurrent(spark, root, untouched :+ stat, obs,
            Some(key))) {
          sweep(spark, root)
          Some(MergeReport(
            touched.map(_.batch), untouched.map(_.batch),
            pureInsert = false))
        } else None
      }
    }
  }

  /** CDC APPLY — [[merge]] generalized with DELETES (the Delta
    * `MERGE ... WHEN MATCHED AND op='D' THEN DELETE` form, i.e. what a
    * change-data-capture consumer runs): `changes` carries the table's
    * columns plus `opCol` ∈ {'U','D'} — upserts replace-or-insert by
    * key (SET* semantics, like [[merge]]), deletes remove the key if
    * present and no-op if absent (the Delta/CDC convention — a delete
    * racing a never-arrived insert must not fail the feed). One change
    * row per key (callers reduce multi-commit deltas to latest-per-key
    * first — the p13 discipline); duplicates fail loudly before any
    * write.
    *
    * Plan is [[merge]]'s with one twist: candidate batches come from
    * ALL change keys (a delete must find its victim), but the
    * pure-insert fast path applies when no key lands in any range —
    * then the deletes are provably no-ops and only the upserts append.
    * The rewrite drops matched-delete rows and s-only delete rows
    * (absent-key deletes) in the same projection that resolves
    * upserts; stats bound the rewrite by touched ∪ upsert keys
    * (deletes only shrink the key set — bounds stay valid, pruning
    * stays conservative-correct).
    */
  def applyChanges(
      changes: DataFrame,
      root: String,
      key: String,
      opCol: String = "op"): MergeReport = {
    val spark = changes.sparkSession
    require(
      isInitialized(spark, root),
      s"nothing committed under $root — append first")
    require(
      changes.columns.contains(opCol),
      s"changes must carry the op column '$opCol'")
    val badOps = changes
      .filter(!col(opCol).isin("U", "D")).limit(1).count()
    require(badOps == 0L, s"$opCol values must be 'U' or 'D'")
    val (n, nd, _, _) = keyStats(changes, key)
    if (n == 0L)
      return MergeReport(
        Nil, currentRows(spark, root).map(_.batch), pureInsert = false)
    require(nd == n, s"duplicate $key values in the change set — " +
      "reduce to latest-per-key first")
    // upsert stats are observation-independent — computed once
    lazy val upsertStats = {
      val ups = changes.filter(col(opCol) === "U")
      keyStats(ups.drop(opCol), key)
    }

    import spark.implicits._
    retryOcc("applyChanges") {
      val (rows, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      // the table schema is the UNION over live batches (mergeSchema
      // footer read, batch-count-sized) — after a schema-evolving
      // merge (io21) batches are heterogeneous, and deriving from any
      // single batch would nondeterministically accept or reject the
      // same change set depending on which batch it happened to be
      val tableSchema = spark.read.option("mergeSchema", "true")
        .parquet(rows.map(_.path).distinct.sorted: _*).columns.toSeq
      require(
        changes.columns.filter(_ != opCol).sorted.toSeq ==
          tableSchema.sorted,
        s"changes columns (minus $opCol) must equal the table's: " +
          s"${tableSchema.sorted}")
      val ranges = rows.map(b => (b.batch, b.kmin, b.kmax))
        .toDF("batch", "kmin", "kmax")
      val touchedIds = changes.select(col(key).as("k"))
        .join(
          broadcast(ranges),
          col("k") >= col("kmin") && col("k") <= col("kmax"))
        .select(col("batch")).distinct()
        .collect().map(_.getInt(0)).toSet

      val upserts = changes.filter(col(opCol) === "U")
        .select(tableSchema.map(col): _*)
      if (touchedIds.isEmpty) {
        // every delete targets a key no batch can hold — all no-ops
        val (un, _, uMin, uMax) = upsertStats
        if (un == 0L)
          Some(MergeReport(Nil, rows.map(_.batch), pureInsert = false))
        else {
          val next = rows.map(_.batch).foldLeft(0)(math.max) + 1
          val path = s"$root/data/v=$next-${token()}"
          upserts.write.mode(SaveMode.Overwrite).parquet(path)
          if (publishIfCurrent(
              spark, root,
              rows :+ BatchStat(next, path, uMin, uMax), obs, Some(key)))
            Some(MergeReport(Nil, rows.map(_.batch), pureInsert = true))
          else None
        }
      } else {
        val (touched, untouched) = rows.partition(b => touchedIds(b.batch))
        val cols = tableSchema
        // touched batches may predate evolved columns — mergeSchema +
        // null-fill to the union so the projection below resolves and
        // an old-schema batch never silently drops an evolved column
        val chTypes = changes.schema.map(f => f.name -> f.dataType).toMap
        val target0 = spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.path).distinct.sorted: _*)
        val target = cols.foldLeft(target0) { (df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast(chTypes(c)))
        }
        val src = changes.select((cols :+ opCol).map(col): _*)
        val matchedOrNew = col(s"s.$key").isNotNull
        val applied = target.as("t")
          .join(src.as("s"), col(s"t.$key") === col(s"s.$key"), "full_outer")
          // a delete row (matched or absent-key) contributes nothing
          .filter(!(matchedOrNew && col(s"s.$opCol") === "D"))
          .select(cols.map(c =>
            when(matchedOrNew, col(s"s.$c"))
              .otherwise(col(s"t.$c")).as(c)): _*)

        // stats bound touched ∪ upserts; an all-delete rewrite can
        // empty the batch — then the new generation simply omits it
        val (an, _, uMin, uMax) = upsertStats
        val bounds = touched.map(b => (b.kmin, b.kmax)) ++ (
          if (an > 0L) Seq((uMin, uMax)) else Nil)
        val next = rows.map(_.batch).max + 1
        val path = s"$root/data/v=$next-${token()}"
        applied.write.mode(SaveMode.Overwrite).parquet(path)
        val rewrittenEmpty =
          spark.read.parquet(path).limit(1).count() == 0L
        val kept =
          if (rewrittenEmpty) untouched
          else untouched :+ BatchStat(
            next, path, bounds.map(_._1).min, bounds.map(_._2).max,
            unionSecStat(touched, Some(upserts)))
        require(
          kept.nonEmpty,
          "applyChanges would delete the last row of the table — an " +
            "empty keyed table has no manifest; truncate explicitly " +
            "instead")
        if (publishIfCurrent(spark, root, kept, obs, Some(key))) {
          sweep(spark, root)
          Some(MergeReport(
            touched.map(_.batch), untouched.map(_.batch),
            pureInsert = false))
        } else None
      }
    }
  }

  /** What [[deleteRange]] decided, for callers that assert or surface
    * the plan (tests, the io20 row's hash-locked columns).
    */
  final case class DeleteReport(
      droppedMetadataOnly: Seq[Int], rewritten: Seq[Int], untouched: Seq[Int])

  /** RETENTION DELETE with METADATA-ONLY file drops (io20 — Delta
    * `DELETE WHERE` / Iceberg delete-by-partition-predicate): remove
    * every row with `key ∈ [lo, hi]`. The manifest stats split the
    * batches three ways, and only ONE class pays a rewrite:
    *
    *  - ENTIRELY inside the range (`lo ≤ kmin ∧ kmax ≤ hi`): dropped
    *    from the manifest — ZERO data bytes touched. This is the whole
    *    point at 100 TB: a retention job that expires a day's
    *    range-clustered batches is a manifest edit, not a scan;
    *  - DISJOINT from the range: carried by path, untouched;
    *  - STRADDLING the boundary: rewritten with the residual filter
    *    (exact stats from one key-pruned agg over the rewrite);
    *    a rewrite that empties is omitted.
    *
    * Optimistic like every write; deleting the last row fails loudly
    * (the empty-table rule [[applyChanges]] documents).
    */
  def deleteRange(
      spark: SparkSession,
      root: String,
      key: String,
      lo: Long,
      hi: Long): DeleteReport = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    require(isInitialized(spark, root), s"nothing committed under $root")
    retryOcc("deleteRange") {
      val (rows, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      val inside = rows.filter(b => lo <= b.kmin && b.kmax <= hi)
      val disjoint = rows.filter(b => b.kmax < lo || b.kmin > hi)
      val straddling = rows.filterNot(b =>
        (lo <= b.kmin && b.kmax <= hi) || b.kmax < lo || b.kmin > hi)
      if (inside.isEmpty && straddling.isEmpty)
        Some(DeleteReport(Nil, Nil, rows.map(_.batch)))
      else {
        val rewrittenStats =
          if (straddling.isEmpty) Nil
          else {
            val next = rows.map(_.batch).max + 1
            val path = s"$root/data/v=$next-${token()}"
            // mergeSchema: an old-schema straddler (post-io21 layout)
            // rewrites on the union schema, evolved columns null-filled
            // — never silently dropped
            spark.read.option("mergeSchema", "true")
              .parquet(straddling.map(_.path).distinct.sorted: _*)
              .filter(col(key) < lo || col(key) > hi)
              .write.mode(SaveMode.Overwrite).parquet(path)
            val r = spark.read.parquet(path)
              .agg(count(lit(1)), min(col(key)), max(col(key))).collect()(0)
            // secondary bounds survive the rewrite when every straddler
            // carries them for one column: deletion only removes rows,
            // so the straddlers' union still contains every survivor
            val sec = unionSecStat(straddling, None)
            if (r.getLong(0) == 0L) Nil
            else Seq(BatchStat(next, path, r.getLong(1), r.getLong(2), sec))
          }
        val kept = disjoint ++ rewrittenStats
        require(
          kept.nonEmpty,
          "deleteRange would delete the last row of the table — an " +
            "empty keyed table has no manifest; truncate explicitly " +
            "instead")
        if (publishIfCurrent(spark, root, kept, obs, Some(key))) {
          sweep(spark, root)
          Some(DeleteReport(
            inside.map(_.batch), straddling.map(_.batch),
            disjoint.map(_.batch)))
        } else None
      }
    }
  }

  /** COMPACTION with RANGE CLUSTERING (io17 — Delta `OPTIMIZE` / the
    * Iceberg rewrite, plus the sort that makes future stats-pruning
    * sharp): the live table is rewritten into one batch per
    * caller-supplied split interval (`splits` are the interior
    * boundaries; batch i = keys in [splits(i-1), splits(i)) with
    * open ends — production derives them from table stats, tests and
    * the io17 row pass arithmetic thresholds so the oracle can replay
    * them). ONE scan, partitioned-by-bucket write; per-batch exact
    * stats from one key-column-pruned grouped agg over the output.
    * After compaction ranges are DISJOINT, so a range read prunes to
    * the intervals it overlaps — the io16 property restored no matter
    * how interleaved the appends were. State is untouched (oracle-
    * locked); publish rides the atomic pointer; empty buckets simply
    * don't appear.
    */
  def compact(
      spark: SparkSession,
      root: String,
      key: String,
      splits: Seq[Long]): Unit = {
    require(splits == splits.sorted && splits.distinct == splits,
      s"splits must be strictly increasing: $splits")
    require(isInitialized(spark, root), s"nothing committed under $root")
    retryOcc("compact") {
      val (rows, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      val next = rows.map(_.batch).max + 1
      val stage = s"$root/data/cmp=$next-${token()}"
      val bucket = splits.foldLeft(lit(0)) { (acc, s) =>
        acc + when(col(key) >= s, 1).otherwise(0)
      }
      // mergeSchema: post-evolution batches are heterogeneous; the
      // compacted rewrite must carry the union schema, not whichever
      // single file Spark happened to infer from
      val data = spark.read.option("mergeSchema", "true")
        .parquet(rows.map(_.path).distinct.sorted: _*)
      data.withColumn("gbucket", bucket)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("gbucket").parquet(stage)
      // when the table tracks one secondary column (a prior compactZ),
      // its per-bucket bounds ride the SAME grouped agg — exact, free,
      // and the lex rewrite keeps io23's second-dimension pruning alive
      // every column the table tracks keeps its per-bucket bounds,
      // recomputed EXACT from the same grouped agg (the rewrite scans
      // the data anyway — the one place stats are free to re-tighten)
      val secCols = rows.flatMap(_.sec).map(_.col2).distinct
        .filter(c => data.columns.contains(c) && c != key)
      val aggs = Seq(max(col(key)).as("kmax")) ++ secCols.flatMap(c =>
        Seq(min(col(c)).as(s"n_$c"), max(col(c)).as(s"x_$c")))
      val stats = spark.read.parquet(stage)
        .groupBy(col("gbucket"))
        .agg(min(col(key)).as("kmin"), aggs: _*)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          secCols.filter(c => !r.isNullAt(r.fieldIndex(s"n_$c")))
            .map(c => SecStat(c,
              r.getLong(r.fieldIndex(s"n_$c")),
              r.getLong(r.fieldIndex(s"x_$c"))))))
        .sortBy(_._1)
      val kept = stats.zipWithIndex.map { case ((b, lo, hi, sec), i) =>
        BatchStat(next + i, s"$stage/gbucket=$b", lo, hi, sec)
      }.toSeq
      if (publishIfCurrent(spark, root, kept, obs, Some(key))) {
        sweep(spark, root)
        Some(())
      } else None
    }
  }

  /** [[compact]] with the splits DERIVED from the manifest (the
    * production OPTIMIZE path — callers don't guess splits): equal-
    * width intervals over [min kmin, max kmax], pure manifest
    * arithmetic so an oracle can replay the bucket bounds with no
    * second scan. Equal-width (not equal-rows) is deliberate: quantile
    * targets would cost a pass over the table, and clustering quality
    * — the thing pruning cares about — depends on the bounds, not the
    * balance. The bounds are read from the CURRENT manifest and the
    * compact re-observes under OCC; a racing write can only make the
    * derived splits stale, never wrong (any strictly-increasing splits
    * compact correctly — bounds guide clustering, not correctness).
    */
  def compactAuto(
      spark: SparkSession,
      root: String,
      key: String,
      buckets: Int): Unit = {
    require(buckets >= 2 && buckets <= 4096, s"buckets: $buckets")
    val rows = currentRows(spark, root)
    require(rows.nonEmpty, s"nothing committed under $root")
    val lo = rows.map(_.kmin).min
    val hi = rows.map(_.kmax).max
    val span = BigInt(hi) - BigInt(lo) + 1
    val splits = (1 until buckets)
      .map(i => (BigInt(lo) + span * i / buckets).toLong)
      .distinct.filter(s => s > lo && s <= hi)
    compact(spark, root, key, splits)
  }

  /** Z-ORDER COMPACTION (io23 — Delta `OPTIMIZE ... ZORDER BY`, the
    * Iceberg z-order rewrite): the live table rewrites into `buckets`
    * batches along the MORTON CURVE of (`key`, `key2`), and the
    * manifest carries per-batch bounds for BOTH columns, so a
    * selective range probe on EITHER dimension prunes batches —
    * [[compact]]'s lexicographic clustering gives perfect `key`
    * skipping and ZERO `key2` skipping; the z-curve trades a little of
    * the first for most of the second (each batch covers a rectangle
    * of the key plane). This is the [[graft.operators.Layout]] io9
    * algebra carried into the MANAGED table: the layout decision rides
    * the manifest, not a reader convention.
    *
    * Deterministic, oracle-replayable arithmetic: both columns scale
    * into [0, 65535] by `(v - min) * 65535 div (max - min)` (one
    * bounds scan), interleave via [[graft.operators.Layout.zValue16]],
    * and bucket i = z ∈ [i·2³²/buckets, (i+1)·2³²/buckets) — equal
    * z-ranges, not equal row counts (quantile targets would need a
    * second pass; the curve's locality is what matters for pruning).
    * Primary-key stats stay exact (per-bucket grouped agg over the
    * output, both columns in ONE pass); state is untouched; publish
    * rides the atomic pointer like every write.
    *
    * `statCols` (r16 verdict #6): EXTRA Long columns to carry
    * per-bucket bounds for — the layout stays the (key, key2)
    * z-curve, but the manifest then also prunes range probes on these
    * columns (Iceberg's per-column stats map; io24 measures the third
    * dimension). Columns the table already tracked keep their bounds
    * too — maintenance never silently drops a stat a writer recorded.
    */
  def compactZ(
      spark: SparkSession,
      root: String,
      key: String,
      key2: String,
      buckets: Int,
      statCols: Seq[String] = Nil): Unit = {
    require(buckets >= 2 && buckets <= 4096, s"buckets: $buckets")
    require(isInitialized(spark, root), s"nothing committed under $root")
    retryOcc("compactZ") {
      val (rows, obs, tkey) = currentStateKeyed(spark, root)
      requireKeyMatches(tkey, key, root)
      val next = rows.map(_.batch).max + 1
      val stage = s"$root/data/cmpz=$next-${token()}"
      val data = spark.read.option("mergeSchema", "true")
        .parquet(rows.map(_.path).distinct.sorted: _*)
      val b = data.agg(
        min(col(key)), max(col(key)), min(col(key2)), max(col(key2)))
        .collect()(0)
      val (xlo, xhi, ylo, yhi) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      // overflow-safe 16-bit scaling (r15 advice #4: the naive
      // (c − lo) · 65535 wraps past a ~1.4e14 span and z-clustering
      // silently degrades to noise): pre-shift both the offset and the
      // span so (span ≫ s) · 65535 < 2⁶³ — for narrow spans s = 0 and
      // the arithmetic is bit-identical to the unshifted form the io23
      // oracle replays; for wide spans the shift only coarsens the
      // 16-bit grid's low bits, which the grid was discarding anyway.
      // x ≤ y ⇒ x ≫ s ≤ y ≫ s keeps the result in [0, 65535] exactly.
      def scale16(c: String, lo: Long, hi: Long) = {
        val span = BigInt(hi) - BigInt(lo)
        require(span < BigInt(Long.MaxValue),
          s"$c spans ≥ 2^63 — rescale the column before z-ordering")
        val sp = span.toLong
        if (sp <= 0L) lit(0L)
        else {
          val shift = math.max(
            0, 64 - java.lang.Long.numberOfLeadingZeros(sp) - 46)
          expr(s"(shiftright($c - $lo, $shift) * 65535) " +
            s"div ${math.max(sp >> shift, 1L)}")
        }
      }
      val z = graft.operators.Layout.zValue16(
        scale16(key, xlo, xhi), scale16(key2, ylo, yhi))
      data
        .withColumn("gz", z)
        .withColumn("gbucket", expr(s"(gz * $buckets) div ${1L << 32}"))
        .drop("gz")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("gbucket").parquet(stage)
      // tracked columns: key2 (the z partner) + the caller's statCols
      // + whatever the table already tracked — exact per-bucket bounds
      // for all of them in the SAME grouped agg
      val secCols = (Seq(key2) ++ statCols ++ rows.flatMap(_.sec)
        .map(_.col2)).distinct
        .filter(c => c != key && data.columns.contains(c))
      val stats = spark.read.parquet(stage)
        .groupBy(col("gbucket"))
        .agg(
          min(col(key)).as("kmin"),
          max(col(key)).as("kmax") +: secCols.flatMap(c =>
            Seq(min(col(c)).as(s"n_$c"), max(col(c)).as(s"x_$c"))): _*)
        .collect()
        .map(r => (r.getAs[Number](0).intValue,
          r.getLong(r.fieldIndex("kmin")), r.getLong(r.fieldIndex("kmax")),
          secCols.filter(c => !r.isNullAt(r.fieldIndex(s"n_$c")))
            .map(c => SecStat(c,
              r.getLong(r.fieldIndex(s"n_$c")),
              r.getLong(r.fieldIndex(s"x_$c"))))))
        .sortBy(_._1)
      val kept = stats.zipWithIndex.map {
        case ((bk, lo, hi, sec), i) =>
          BatchStat(next + i, s"$stage/gbucket=$bk", lo, hi, sec)
      }.toSeq
      if (publishIfCurrent(spark, root, kept, obs, Some(key))) {
        sweep(spark, root)
        Some(())
      } else None
    }
  }

  /** The batches a `column ∈ [lo, hi]` scan must read, planned from
    * the SECONDARY manifest stats: a batch with bounds for `column`
    * outside the range is skipped; a batch WITHOUT bounds for that
    * column is kept (conservative — correctness never depends on a
    * stat being present).
    */
  private[graft] def planPrunedOn(
      rows: Seq[BatchStat],
      column: String,
      lo: Long,
      hi: Long): Seq[BatchStat] =
    rows.filter(_.sec.find(_.col2 == column) match {
      case Some(s) => s.hi >= lo && s.lo <= hi
      case None => true
    })

  /** io23 read path: range scan on the SECOND dimension planned from
    * the z-compaction's per-batch bounds — the probe [[readPruned]]
    * serves for the primary key, on the other axis. Residual filter
    * rides the scan as always.
    */
  def readPrunedOn(
      spark: SparkSession,
      root: String,
      column: String,
      lo: Long,
      hi: Long): DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val rows = currentRows(spark, root)
    require(rows.nonEmpty, s"nothing committed under $root")
    val kept = planPrunedOn(rows, column, lo, hi)
    if (kept.isEmpty) emptyFrame(spark, rows)
    else
      spark.read.option("mergeSchema", "true")
        .parquet(kept.map(_.path).distinct.sorted: _*)
        .filter(col(column) >= lo && col(column) <= hi)
  }

  /** What [[sweep]] collected, for the VACUUM report (sql10): swept
    * generation count and swept data-dir count — both deterministic
    * given the write history and the grace, so they can ride a hash.
    */
  final case class SweepReport(gensSwept: Long, dirsSwept: Long)

  /** Sweep data dirs and manifest generations the RETAINED generations
    * do not reference — merge's replaced batches, crashed writers'
    * orphans, expired generations. Everything is age-gated by ONE
    * retention grace (`orphanGraceMs`, Delta VACUUM's retention idea):
    *
    *  - a SUPERSEDED generation younger than the grace is RETAINED
    *    with every data dir it references. This is load-bearing two
    *    ways: a held DataFrame from [[read]]/[[readPruned]] was
    *    PLANNED from the then-live generation but scans lazily at
    *    action time — within the grace a concurrent merge/compact
    *    cannot yank its files (the FileNotFoundException hazard VACUUM
    *    retention exists for); and [[readAt]]/[[changesBetween]] serve
    *    time travel and the row-level change feed from exactly these
    *    retained generations.
    *  - past the grace, an expired generation and the data dirs only
    *    expired generations reference are deleted (provably unreadable
    *    by then under the documented reader contract: hold a frame
    *    across more than the retention window and it may be
    *    invalidated — the same loud contract every lakehouse ships).
    *  - UNREFERENCED orphans (crashed or lost-race stagers) age-gate
    *    on the same clock: only time distinguishes "dead" from "still
    *    writing". Pass 0 in single-writer maintenance to collect
    *    everything now (which also forfeits time travel/CDF history —
    *    the VACUUM tradeoff, stated).
    *
    * Sweeping works at TOP-LEVEL granularity under data/ (compacted
    * batches are gbucket subdirs of one cmp=<n> staging dir —
    * partially-superseded staging dirs are kept whole, a disk-only
    * over-approximation the next full compact collects). Idempotent,
    * pure cleanup, safe to lose.
    */
  def sweep(
      spark: SparkSession,
      root: String,
      orphanGraceMs: Long = 15L * 60L * 1000L): SweepReport = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def top(path: String): String =
      path.stripPrefix(s"$root/data/").split('/').head
    // serialized with publishes (and other sweeps) IN and ACROSS
    // processes: a sweep reads the superseded generation dirs a
    // concurrent sweep would delete, and must never interleave with a
    // cross-JVM publish's observe→swap window
    commitLock.synchronized {
    CommitClaim.withClaim(spark, s"$root/manifest") {
    // the live name is read INSIDE the lock — a publish between read
    // and sweep would otherwise make this sweep delete the new live
    val live = currentName(spark, root)
      .getOrElse(sys.error(s"no committed manifest under $root"))
    val manDir = new Path(s"$root/manifest")
    val now = System.currentTimeMillis()
    val genSts = fs.listStatus(manDir)
      .filter(st => st.getPath.getName.startsWith("g=") &&
        st.getPath.getName != live)
    val (retainedGens, expiredGens) = genSts.partition(st =>
      now - st.getModificationTime < orphanGraceMs)
    def pathsOf(gen: String): Set[String] =
      spark.read.parquet(s"$root/manifest/$gen")
        .select(col("path")).collect().map(r => top(r.getString(0))).toSet
    val protectedTops =
      (live +: retainedGens.map(_.getPath.getName).toSeq)
        .flatMap(pathsOf).toSet
    val expiredTops =
      expiredGens.flatMap(g => pathsOf(g.getPath.getName)).toSet --
        protectedTops
    val dataDir = new Path(s"$root/data")
    var dirsSwept = 0L
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { st =>
        val nm = st.getPath.getName
        // replaced-and-expired dirs go with their generations; orphans
        // (referenced by NO generation at all) age-gate on mtime
        val replaced = expiredTops.contains(nm)
        val orphan = !replaced && !protectedTops.contains(nm) &&
          now - st.getModificationTime >= orphanGraceMs
        if (replaced || orphan) {
          fs.delete(st.getPath, true)
          dirsSwept += 1L
        }
      }
    expiredGens.foreach(st => fs.delete(st.getPath, true))
    SweepReport(expiredGens.length.toLong, dirsSwept)
    }
    }
  }
}
