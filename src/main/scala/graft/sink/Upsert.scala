package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.model.{Tables, TableSpec}

/** Merge/upsert writer family (SURVEY.md §2.9 #74-77, #80).
  *
  * The reference merges per-table temp tables into targets with three
  * strategies (typescript/src/database.ts:168-254):
  *  - full sync: `TRUNCATE … CASCADE` + `INSERT SELECT *` (:178-184)
  *  - incremental, child tables: `DELETE` every row whose *entity key*
  *    appears in the staged batch, then insert — child rows have no
  *    stable identity, so replacement is per touched entity (:186-212)
  *  - incremental, PK tables: `MERGE INTO` / `INSERT … ON CONFLICT
  *    DO UPDATE` (:214-223)
  * applied in FK topological order (2_database_load.ts:188-207).
  *
  * Here each strategy is a pure DataFrame → DataFrame merge (tested for
  * idempotence) plus a parquet-backed writer. Scale notes: both merges
  * are one anti-join shuffle on the key — at 100 TB the win is
  * partitioning the target by the merge key so only touched partitions
  * rewrite (dynamic partition overwrite); the pure-merge semantics stay
  * identical.
  */
object Upsert {

  /** In-plan NULL-key guard for the merge strategies: a NULL merge key
    * never survives the anti-join's equi-comparison, so a staged row
    * with a NULL key would be APPENDED on every merge of the same
    * batch — silent duplication where the reference target (Postgres,
    * NOT NULL primary keys) rejects the insert loudly. One codegen'd
    * when-branch per key column converts that into the loud failure
    * the reference has; the key columns feed the join, so the check
    * is never pruned. */
  private def requireKeys(df: DataFrame, keys: Seq[String],
                          op: String): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k,
      when(col(k).isNotNull, col(k)).otherwise(raise_error(lit(
        s"$op: NULL in merge-key column '$k' — the reference target " +
          "rejects NULL keys (NOT NULL PK); repair the staged batch " +
          "upstream")))))

  /** Incremental child-table merge: replace *all* rows of every entity
    * touched by the staged batch (database.ts:186-212). Getting this
    * wrong per-PK instead of per-entity silently duplicates child rows
    * (SURVEY.md §7.4). */
  def keyClearMerge(target: DataFrame, staged: DataFrame, entityKey: String): DataFrame = {
    val checked = requireKeys(staged, Seq(entityKey), "keyClearMerge")
    val touched = checked.select(col(entityKey)).distinct()
    target.join(touched, Seq(entityKey), "left_anti")
      .unionByName(checked)
  }

  /** PK upsert: staged wins on key collision, untouched target rows
    * survive (MERGE INTO matched→UPDATE / not-matched→INSERT,
    * database.ts:214-223). */
  def pkMerge(target: DataFrame, staged: DataFrame, pk: Seq[String]): DataFrame = {
    val checked = requireKeys(staged, pk, "pkMerge")
    target.join(checked.select(pk.map(col): _*).distinct(), pk, "left_anti")
      .unionByName(checked)
  }

  /** Pick the merge strategy the reference would for this table. */
  def merge(target: DataFrame, staged: DataFrame, spec: TableSpec,
            fullSync: Boolean): DataFrame =
    if (fullSync) staged // TRUNCATE + INSERT ≡ staged replaces target
    else spec.entityKey match {
      case Some(k) => keyClearMerge(target, staged, k)
      case None    => pkMerge(target, staged, spec.pk)
    }

  /** Orphan cleanup (SURVEY.md §2.3 #30): keep child rows whose FK
    * exists in the parent (the anti of the reference's two quick-fix
    * DELETEs, database.ts:300-355). */
  def dropOrphans(child: DataFrame, parent: DataFrame,
                  fk: String, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey).as(fk)).distinct(), Seq(fk), "left_semi")

  /** Apply staged batches to current table states in FK topo order
    * (2_database_load.ts:188-207). Missing staged tables pass through;
    * missing targets are created from staged. Returns the new state per
    * table, ordered. */
  def applyAll(current: Map[String, DataFrame], staged: Map[String, DataFrame],
               specs: Seq[TableSpec], fullSync: Boolean): Seq[(String, DataFrame)] =
    Tables.topoOrder(specs).flatMap { spec =>
      (current.get(spec.name), staged.get(spec.name)) match {
        case (Some(t), Some(s)) => Some(spec.name -> merge(t, s, spec, fullSync))
        case (None, Some(s))    => Some(spec.name -> s)
        case (Some(t), None)    => Some(spec.name -> t)
        case (None, None)       => None
      }
    }

  /** Staging (SURVEY.md §2.1 #6): the reference stages batches in
    * UNLOGGED constraint-free temp tables (create_temp_table.sql:1).
    * The Spark analogue is a truncated-lineage snapshot: downstream
    * merges re-read the staged data, not the pipeline that built it. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Hash-bucket partition column for partition-scoped merges. */
  val BucketCol = "__bucket"

  /** The key an incremental merge joins on: the entity key for
    * key-clear tables, the PK for upsert tables. */
  def mergeKeys(spec: TableSpec): Seq[String] = {
    val keys = spec.entityKey.map(Seq(_)).getOrElse(spec.pk)
    require(keys.nonEmpty,
      s"${spec.name}: partition-scoped merge needs an entityKey or a PK")
    keys
  }

  private def bucketOf(spec: TableSpec, numBuckets: Int) =
    pmod(xxhash64(mergeKeys(spec).map(col): _*), lit(numBuckets)).cast("int")

  /** Bucket count for a new layout: one bucket per ~32 MB of expected
    * staged volume, floor 4, cap 4096. The count trades rewrite
    * granularity (each incremental merge rewrites whole touched
    * buckets — more buckets = finer pruning) against per-merge file
    * and listing fan-out: every touched bucket is ≥1 file per write,
    * and reading a target of more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * bucket directories starts a listing job of one empty task per
    * directory — a tiny table laid out over many buckets pays both on
    * EVERY batch. Sizing from volume the way streaming replay width
    * derives from feed bytes keeps both ends honest: a sf-scale table
    * derives to the floor, a 100 TB table derives to wide pruning.
    * [[mergeAndWrite]] applies it to [[layoutBytes]] of the staged
    * frame when it lays out a new target and the caller gives no count;
    * an existing target's count is pinned by its layout marker. */
  def bucketsFor(expectedBytes: Long, floor: Int = 4,
                 perBucketBytes: Long = 32L << 20, cap: Int = 4096): Int =
    math.max(floor, math.min(cap.toLong,
      expectedBytes / math.max(1L, perBucketBytes)).toInt)

  /** Bytes a new layout is sized by: the optimized plan's size estimate,
    * capped at the summed size of the plan's distinct leaf relations. A
    * join's estimate is the product of its sides', so a pipeline of
    * joins over a few MB of cached quads can estimate ~1e23 B; the
    * leaves bound what the pipeline can carry into the sink. A staged
    * (checkpointed) leaf inherits the estimate of the plan it was cut
    * from, so it counts the bytes its blocks hold instead. None when a
    * leaf's size is unknown: Spark reports `spark.sql.defaultSizeInBytes`
    * (by default Long.MaxValue) for it, which is no size at all. */
  private[sink] def layoutBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves().distinctBy(_.canonicalized).map {
      case r: LogicalRDD =>
        r.rdd.context.getRDDStorageInfo.find(_.id == r.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize)).getOrElse(r.stats.sizeInBytes)
      case leaf => leaf.stats.sizeInBytes
    }
    val unknown = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (leaves.exists(_ >= unknown)) None
    else Some(plan.stats.sizeInBytes.min(leaves.sum))
  }

  /** Bucket count of targets laid out before counts were derived, of
    * pre-marker targets merged with no count, and of new layouts whose
    * staged size is unknown. */
  val LegacyBuckets = 64

  /** Marker file pinning the bucket count a target was laid out with.
    * The underscore prefix keeps parquet readers from treating it as
    * data (same convention as _SUCCESS). */
  private val BucketMarker = "_graft_buckets"

  private def writeBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                dir: Path, n: Int): Unit = {
    val out = fs.create(new Path(dir, BucketMarker), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Three-way marker read result: a present-but-unreadable marker is
    * NOT the same as a missing one. Treating them alike would let the
    * legacy-upgrade path overwrite a corrupt marker with the caller's
    * numBuckets — silently re-pinning a possibly wrong modulus on a
    * target whose true layout is unknown, the exact dup-key corruption
    * the marker exists to prevent. */
  private sealed trait MarkerState
  private case object MarkerAbsent extends MarkerState
  private final case class MarkerValid(n: Int) extends MarkerState
  private final case class MarkerInvalid(reason: String) extends MarkerState

  /** Reads the whole marker (single `read` calls may return short on
    * FSDataInputStream — a short read would parse a truncated count,
    * e.g. '6' from '64', and silently merge under the wrong modulus)
    * and rejects values outside a sane layout range. Absent markers
    * mean a legacy (pre-marker) target; unparseable/out-of-range
    * content or a read error means the layout is UNKNOWN — callers
    * must refuse to merge incrementally rather than guess. */
  private def readBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                               dir: Path): MarkerState = {
    val p = new Path(dir, BucketMarker)
    if (!fs.exists(p)) MarkerAbsent
    else try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(32)
        val chunk = new Array[Byte](32)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        val v = new String(buf.toByteArray, "UTF-8").trim.toInt
        if (v >= 1 && v <= (1 << 20)) MarkerValid(v)
        else MarkerInvalid(s"bucket count $v outside [1, ${1 << 20}]")
      } finally in.close()
    } catch {
      case e: Exception => MarkerInvalid(s"unreadable: ${e.getMessage}")
    }
  }

  /** Parquet-backed upsert, partition-scoped: the target lives
    * partitioned by `__bucket = pmod(xxhash64(mergeKey), buckets)`, so
    * an incremental batch touching 0.1% of entities rewrites only the
    * bucket directories its keys hash into — not the full snapshot. At
    * 100 TB this is the difference between an incremental sync moving
    * ~gigabytes and moving the whole table; the pure-merge semantics are
    * exactly `merge` either way (same key → same bucket → target row and
    * staged row meet inside the pruned read).
    *
    * Full sync (or first write) snapshots everything via tmp-write +
    * rename (read-your-own-input safety + the dual-write ordering the
    * reference gets from transactions, arc_db_delete_flow.py:56-61).
    * Incremental: read ONLY touched buckets (partition pruning), merge,
    * localCheckpoint the result (cuts the lineage that would otherwise
    * read the path being overwritten), and dynamic-partition-overwrite
    * just those buckets. The touched-bucket collect is bounded by the
    * bucket count, never by data size.
    *
    * The bucket count follows three rules:
    *  - a new layout (first write or full sync) uses `numBuckets` when
    *    given, else derives it: [[bucketsFor]] of [[layoutBytes]] of
    *    `staged` ([[LegacyBuckets]] when that size is unknown);
    *  - an incremental merge into a target with a layout marker uses the
    *    marker's count and ignores `numBuckets`: touched-bucket ids must
    *    be computed under the modulus the directories were laid out
    *    with;
    *  - an incremental merge into a pre-marker (legacy) target uses
    *    `numBuckets` when given, else [[LegacyBuckets]] (the historical
    *    fixed count — a derived one could differ from the old layout and
    *    duplicate keys), and pins it as the marker. */
  def mergeAndWrite(spark: SparkSession, path: String, staged: DataFrame,
                    spec: TableSpec, fullSync: Boolean,
                    numBuckets: Option[Int] = None): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(target)
    if (!exists || fullSync) {
      val tmp = new Path(path + "__tmp")
      val layoutBuckets = numBuckets.getOrElse(layoutBytes(staged)
        .fold(LegacyBuckets)(b => bucketsFor(b.min(Long.MaxValue).toLong)))
      staged.withColumn(BucketCol, bucketOf(spec, layoutBuckets))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)
      // Pin the layout's bucket count INSIDE the snapshot before the
      // rename, so target + marker can never be seen apart.
      writeBucketMarker(fs, tmp, layoutBuckets)
      // A failed swap leaves the complete new snapshot at `tmp`;
      // renaming it to `path` by hand recovers the target.
      if (exists && !fs.delete(target, true))
        throw new java.io.IOException(
          s"full sync: could not delete $path to replace it with $tmp " +
            "(the new snapshot is kept there)")
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(
          s"full sync: could not rename $tmp to $path " +
            "(the new snapshot is kept there)")
    } else {
      // The bucket function MUST be the one the target was laid out
      // with — an incremental caller passing a different numBuckets
      // would compute touched-bucket ids under one modulus and prune
      // directories laid out under another: a key whose old row sits
      // in (say) bucket-64 dir 20 but hashes to staged bucket-16 id 4
      // would not be read, not merged, and end up DUPLICATED across
      // two dirs. The marker makes the layout self-describing; targets
      // written before the marker existed fall back to the caller's
      // value or, without one, the historical fixed count.
      val layoutBuckets = readBucketMarker(fs, target) match {
        case MarkerValid(n) => n
        case MarkerAbsent =>
          // Upgrade legacy (pre-marker) targets in place: once a count
          // has been used to merge, it IS the layout — pin it so the
          // target stops being vulnerable to a future mismatched caller.
          val n = numBuckets.getOrElse(LegacyBuckets)
          writeBucketMarker(fs, target, n)
          n
        case MarkerInvalid(reason) =>
          // Fail loudly: merging under a guessed modulus on a target
          // whose layout is unknown is the dup-key corruption the
          // marker exists to prevent. Recover with a full sync (which
          // rewrites layout + marker atomically).
          throw new IllegalStateException(
            s"bucket marker at $path is $reason; refusing incremental " +
              "merge — run a full sync to re-pin the layout")
      }
      val bucket = bucketOf(spec, layoutBuckets)
      val touched = staged.select(bucket.as(BucketCol)).distinct()
        .collect().map(_.getInt(0)).sorted // ≤ layoutBuckets values
      val targetTouched = spark.read.parquet(path)
        .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
        .drop(BucketCol)
      val merged = merge(targetTouched, staged, spec, fullSync = false)
        .withColumn(BucketCol, bucket)
      stage(merged) // lineage cut: the write below overwrites what it read
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .parquet(path)
    }
  }
}
