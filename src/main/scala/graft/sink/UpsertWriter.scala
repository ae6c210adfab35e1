package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Key-based upsert ("MERGE") into a parquet-backed fact table — the
 * engine's version of the reference's staging-table + `exec DL_UPSERT_*`
 * stored-proc transaction (S8/S11, `/root/reference/Pembelian/run.js:
 * 299-379`). Semantics: rows whose natural key appears in the incoming
 * batch are replaced; everything else is carried over; the swap is
 * all-or-nothing.
 *
 * Plan shape: `target ANTI JOIN batch ON keys` ∪ `batch` — one shuffle
 * on the key (or none when the batch is broadcastable, the common
 * incremental case: nightly deltas are small relative to the fact).
 * On a production lake this is exactly `MERGE INTO` on Delta/Iceberg,
 * which also removes the rewrite of untouched files; the parquet
 * implementation keeps the same contract for this environment, staging
 * the merged result and promoting it atomically via rename.
 *
 * [[upsertAll]] is the S12 dual-sink protocol (`DailyOperation/run.js:
 * 249-295` — two staging tables, ONE transaction): every batch is
 * computed and staged BEFORE any live table is touched, so a failure
 * anywhere in the expensive phase (the Spark jobs) leaves every target
 * untouched. Promotion is then a sequence of per-table metadata renames.
 */
object UpsertWriter {

  /**
   * One merge target with its physical layout. `partitionBy` writes
   * hive-style partition directories (merged batches are repartitioned
   * on those columns first, so each partition directory gets one file
   * per task instead of tasks × partitions small files); `sortBy` sorts
   * rows within each file so parquet row-group min/max statistics prune
   * point/range reads on those columns. Both are free at read time:
   * partition pruning eliminates directories, stats skip row groups.
   */
  final case class Target(batch: DataFrame, path: String, keys: Seq[String],
                          partitionBy: Seq[String] = Nil,
                          sortBy: Seq[String] = Nil)

  private final case class Staged(target: Path, staging: Path,
                                  backup: Path, rows: Long)

  // JVM-wide per-target-path merge locks: two concurrent merges into the
  // SAME table (e.g. two pipelines maintaining the shared dim-time sink
  // under the server's concurrent schedule) would both stage against the
  // same current state and silently lose one batch at promote. Striped
  // per path, so merges into DIFFERENT tables stay fully concurrent;
  // same-JVM serialization is the local-mode stand-in for a table-level
  // commit protocol (Delta/Iceberg transactions at production scale).
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withPathLocks[A](paths: Seq[String])(body: => A): A = {
    // sorted acquisition order keeps multi-target calls deadlock-free
    def loop(ls: List[Object]): A = ls match {
      case Nil => body
      case l :: rest => l.synchronized(loop(rest))
    }
    loop(paths.distinct.sorted
      .map(p => pathLocks.computeIfAbsent(p, _ => new Object)).toList)
  }

  /** `target ANTI JOIN batch-keys` ∪ `batch` — deliberately hint-free:
    * AQE broadcasts the key set when the batch is small (the nightly
    * delta case) and falls back to a shuffled join when it is not. A
    * forced `broadcast()` here was a backfill-killer: on first run the
    * watermark is epoch, the batch IS the full history, and the driver
    * would have to hold every key of the largest fact. */
  private[graft] def mergedPlan(current: DataFrame, batch: DataFrame,
                               keys: Seq[String]): DataFrame =
    current.join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(batch)

  private def stage(spark: SparkSession, fs: FileSystem, t: Target): Staged = {
    require(t.keys.nonEmpty, "upsert requires at least one key column")
    val target = new Path(t.path)
    val staging = new Path(t.path + "__staging")
    val backup = new Path(t.path + "__old")
    // crash recovery: a previous promote that died between its two
    // renames left the live history at __old and no target — without
    // the restore, this run would see "first write" and MERGE only the
    // batch, silently dropping the table
    if (!fs.exists(target) && fs.exists(backup)) fs.rename(backup, target)
    // the current state's schema comes from one footer read on the
    // driver, not from a schema-inference job (ParquetSchema.read)
    val merged =
      if (fs.exists(target))
        mergedPlan(graft.sources.ParquetSchema.read(spark, t.path), t.batch, t.keys)
      else t.batch
    val laidOut = {
      val parted =
        if (t.partitionBy.nonEmpty) merged.repartition(t.partitionBy.map(col): _*)
        else merged
      if (t.sortBy.nonEmpty)
        parted.sortWithinPartitions((t.partitionBy ++ t.sortBy).map(col): _*)
      else parted
    }
    val obs = org.apache.spark.sql.Observation()
    val writer = laidOut.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
    (if (t.partitionBy.nonEmpty) writer.partitionBy(t.partitionBy: _*)
     else writer).parquet(staging.toString)
    Staged(target, staging, backup, obs.get("rows").asInstanceOf[Long])
  }

  private def promote(fs: FileSystem, s: Staged): Unit = {
    // staging → live (rename is atomic per path on HDFS-like FS)
    if (fs.exists(s.target)) {
      fs.delete(s.backup, true)
      fs.rename(s.target, s.backup)
    }
    fs.rename(s.staging, s.target)
    fs.delete(s.backup, true)
  }

  /** @return total rows in the fact after the merge, observed during the
    *         write job itself (`Dataset.observe` — no extra scan). */
  def upsert(spark: SparkSession, batch: DataFrame, targetPath: String,
             keys: Seq[String]): Long =
    upsertTargets(spark, Seq(Target(batch, targetPath, keys))).head

  /**
   * S12 — atomic multi-table upsert: stage every batch first (all the
   * Spark compute), promote only after every staging write succeeded.
   * A failure during any staging write leaves ALL live tables unchanged;
   * the crash window shrinks to the per-table metadata renames.
   *
   * @param batches (batch, targetPath, mergeKeys) per table
   * @return post-merge row count per table, in input order
   */
  def upsertAll(spark: SparkSession,
                batches: Seq[(DataFrame, String, Seq[String])]): Seq[Long] =
    upsertTargets(spark, batches.map { case (b, p, k) => Target(b, p, k) })

  /**
   * Partition-pruned MERGE — the 100 TB shape of [[upsert]]: rewrite
   * ONLY the hive partitions the incoming batch touches, instead of
   * staging the whole fact. A nightly delta touching 3 of 3650 day
   * partitions reads and writes 3 partitions; the other 3647 are not
   * opened, not rewritten, not renamed (asserted byte-for-byte in
   * PartitionPrunedMergeSpec). This is `MERGE` with Delta/Iceberg-style
   * `replaceWhere` semantics, expressed over plain parquet.
   *
   * How: the batch's distinct partition tuples (a model-parameter-sized
   * driver read, bounded by the partition count — same class as a
   * watermark read) become a partition-column predicate, so the
   * current-state scan partition-prunes to the touched directories;
   * the merged result is staged partitioned, then each staged
   * partition directory is swapped in by rename.
   *
   * Requires `partitionBy ⊆ keys`: the partition columns must be part
   * of the merge key, otherwise a row whose partition value "moved"
   * between runs would leave its stale copy in an untouched partition.
   * (With the partition columns in the key, the moved row is a new key
   * and the old row legitimately remains — standard upsert semantics.)
   *
   * Atomicity is per PARTITION (a crash between renames leaves touched
   * partitions mixed-version, like Hive dynamic-partition overwrite);
   * when whole-table atomicity matters more than rewrite cost, use
   * [[upsertTargets]].
   *
   * @return rows written into the touched partitions
   */
  def upsertPartitionPruned(spark: SparkSession, batch: DataFrame,
                            targetPath: String, keys: Seq[String],
                            partitionBy: Seq[String],
                            sortBy: Seq[String] = Nil): Long =
      withPathLocks(Seq(targetPath)) {
    require(partitionBy.nonEmpty, "partition-pruned merge needs partitions")
    require(partitionBy.forall(keys.contains),
      s"partition columns $partitionBy must be part of the merge keys " +
        s"$keys — otherwise a row moving across partitions strands its " +
        "stale copy in an untouched directory")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val target = new Path(targetPath)
    // crash recovery: restore any partition whose swap died between its
    // renames (backup exists outside the root, live directory missing) —
    // otherwise this merge's pruned scan reads 0 current rows for that
    // partition and the stale history is silently dropped
    val backupRoot0 = new Path(targetPath + "__old")
    if (fs.exists(backupRoot0) && partitionBy.nonEmpty)
      stagedPartitionRels(fs, backupRoot0, partitionBy.size).foreach { rel =>
        val dst = new Path(target, rel)
        if (!fs.exists(dst)) {
          fs.mkdirs(dst.getParent)
          fs.rename(new Path(backupRoot0, rel), dst)
        }
      }
    if (!fs.exists(target)) {
      val s = stage(spark, fs, Target(batch, targetPath, keys, partitionBy, sortBy))
      promote(fs, s)
      return s.rows
    }
    val touched = batch.select(partitionBy.map(col): _*).distinct().collect()
    if (touched.isEmpty) return 0L
    val prune = touched.map { r =>
      partitionBy.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    // equality on partition columns ⇒ directory-level pruning: the scan
    // lists only the touched partitions
    val current = spark.read.parquet(targetPath).filter(prune)
    val merged = mergedPlan(current, batch, keys)
      .repartition(partitionBy.map(col): _*)
    val laidOut =
      if (sortBy.nonEmpty)
        merged.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
      else merged
    val staging = new Path(targetPath + "__staging")
    fs.delete(staging, true)
    val obs = org.apache.spark.sql.Observation()
    try {
      laidOut.observe(obs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
        .parquet(staging.toString)
    } catch {
      case e: Throwable => fs.delete(staging, true); throw e
    }
    // swap in each staged partition directory (only touched ones exist
    // in staging, by construction). Backups live OUTSIDE the table root
    // (mirroring the whole-table promote path): a `day=…__old` directory
    // inside it would be discovered as a real partition during the swap
    // window or after a crash — duplicate stale rows, and a name with
    // '=' that can flip the inferred partition-column type for readers.
    val backupRoot = new Path(targetPath + "__old")
    stagedPartitionRels(fs, staging, partitionBy.size).foreach { rel =>
      val src = new Path(staging, rel)
      val dst = new Path(target, rel)
      val bak = new Path(backupRoot, rel)
      if (fs.exists(dst)) {
        fs.delete(bak, true)
        fs.mkdirs(bak.getParent)
        fs.rename(dst, bak)
      }
      fs.mkdirs(dst.getParent)
      fs.rename(src, dst)
      fs.delete(bak, true)
    }
    fs.delete(staging, true)
    fs.delete(backupRoot, true)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Relative leaf partition paths (`c=v[/c2=v2…]`) under a staging
    * root. Built from directory NAMES during the walk — `listStatus`
    * returns scheme-qualified paths (`file:/…`), so prefix-stripping
    * the root's string form is not reliable. */
  private def stagedPartitionRels(fs: FileSystem, root: Path,
                                  depth: Int): Seq[String] = {
    def walk(p: Path, d: Int, prefix: String): Seq[String] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          val rel = if (prefix.isEmpty) s.getPath.getName
            else prefix + "/" + s.getPath.getName
          if (d == 1) Seq(rel) else walk(s.getPath, d - 1, rel)
        }
    walk(root, depth, "")
  }

  /** [[upsertAll]] with explicit physical layout per target
    * (partitioning + in-file sort — see [[Target]]). */
  def upsertTargets(spark: SparkSession, targets: Seq[Target]): Seq[Long] =
      withPathLocks(targets.map(_.path)) {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val staged =
      try targets.map(stage(spark, fs, _))
      catch {
        case e: Throwable =>
          // roll back any staging leftovers; live tables were never touched
          targets.foreach(t => fs.delete(new Path(t.path + "__staging"), true))
          throw e
      }
    staged.foreach(promote(fs, _))
    staged.map(_.rows)
  }
}
