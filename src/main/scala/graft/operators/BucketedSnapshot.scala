package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

/** The physical layout every materialized snapshot index shares: a
  * catalog table bucketed AND sorted by its one join key, so the
  * snapshot side of an admit/search join is a pre-bucketed scan with
  * no exchange, and a key filter prunes to the touched buckets. This
  * object owns that layout decision — sizing, the deployed count read
  * back from the catalog, the bucketed write, the rows-per-bucket
  * audit, compaction, and the key-list narrowing every index read
  * makes ([[prune]]) — so each index keeps only how it derives its
  * rows and how it answers. Appends land as new files in the same
  * buckets (the rolling retention the reference's queue applies to its
  * stream, src/queue/redis_queue.py:124-130, applied to an index). */
object BucketedSnapshot {

  /** Bucket count for `rows` rows at ≤ `rowsPerBucket` each: floor 8,
    * rounded up to a power of two (bucket joins only line up when
    * counts divide). */
  def bucketsFor(rows: Long, rowsPerBucket: Long): Int = {
    val target = (rows + rowsPerBucket - 1) / rowsPerBucket
    math.max(8, Integer.highestOneBit(math.max(1, target - 1).toInt) * 2)
  }

  private def bucketSpec(s: SparkSession, table: String): Option[BucketSpec] =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table)).bucketSpec

  /** The deployed bucket count, or None for an unbucketed table. */
  def bucketCountOption(s: SparkSession, table: String): Option[Int] =
    bucketSpec(s, table).map(_.numBuckets)

  /** The deployed bucket count; an unbucketed table is an error. */
  def bucketCount(s: SparkSession, table: String): Int =
    bucketCountOption(s, table).getOrElse(throw new IllegalStateException(
      s"$table is not a bucketed index table"))

  /** Write `rows` into `table` bucketed and sorted by `key`. */
  def write(rows: DataFrame, table: String, buckets: Int, key: String,
      mode: String = "overwrite"): Unit =
    rows.write.bucketBy(buckets, key).sortBy(key).mode(mode)
      .saveAsTable(table)

  /** Append `rows` into `table`'s deployed layout: the count is read
    * from the catalog, so the new files land in the same buckets the
    * joins prune by (per-file sort order holds per appended file; the
    * bucketed scan merges files per bucket). */
  def append(rows: DataFrame, table: String, key: String): Unit =
    write(rows, table, bucketCount(rows.sparkSession, table), key, "append")

  /** Rows-per-bucket audit: every append grows the same fixed bucket
    * set, so rows per bucket walk away from the sizing target and the
    * pruned-scan claim erodes. One count over `table`: `rowsCol`,
    * deployed `buckets`, `rows_per_bucket`, `target_rows_per_bucket`,
    * and `rebucket_due` once rows per bucket exceed 2× the target —
    * the next snapshot cut then rebuilds (re-deriving the count)
    * instead of appending again. */
  def layoutAudit(s: SparkSession, table: String, rowsCol: String,
      targetRowsPerBucket: Long): DataFrame = {
    val deployed = bucketCount(s, table)
    s.table(table).agg(count(lit(1)).as(rowsCol))
      .select(col(rowsCol), lit(deployed.toLong).as("buckets"),
        expr(s"$rowsCol div ${deployed.toLong}L").as("rows_per_bucket"),
        lit(targetRowsPerBucket).as("target_rows_per_bucket"),
        (col(rowsCol) > lit(2L * targetRowsPerBucket) * deployed)
          .as("rebucket_due"))
  }

  /** Ceiling on the literal IN-list a collected key list may become.
    * Below it, the `.isin` filter is what turns the bucketed+sorted
    * layout into bucket- and rowgroup-pruned reads; above it the
    * literal predicate itself degenerates (a multi-thousand-element In
    * expression bloats the plan, codegen, and the parquet pushdown it
    * exists to feed), so [[prune]] switches to a broadcast LEFT SEMI
    * join on the key frame — same rows, no file pruning, still no
    * index-side shuffle. The cutover is result-invariant (the index
    * specs run both sides). */
  private[graft] val MaxInList = 4096

  /** Narrow a scan of index table `idx` to the driver-collected `keys`
    * of its bucket column `keyCol`: a literal In-filter up to
    * `maxInList` keys, a broadcast left-semi join on `keyFrame`'s
    * `keyCol` (already driver-local) above that. The one narrowing
    * decision of every index read. The In-filter prunes files by bucket
    * id whether Spark plans the scan bucketed (a join or aggregate on
    * the key above it) or not (a filter-only lookup, where
    * `DisableUnnecessaryBucketedScan` drops the bucketed partitioning
    * but keeps the selected buckets' files), so no session setting
    * is needed for either. */
  def prune(idx: DataFrame, keyCol: String, keys: Seq[Any],
      keyFrame: DataFrame, maxInList: Int): DataFrame =
    if (keys.size <= maxInList) idx.filter(col(keyCol).isin(keys: _*))
    else idx.join(broadcast(keyFrame.select(col(keyCol)).distinct()),
      Seq(keyCol), "left_semi")

  /** COMPACTION — the file-count half of index lifecycle (the audits'
    * `*_due` flags are the row-count half). Every append lands a
    * refresh batch as NEW files inside the same buckets, so after many
    * refreshes a bucket is dozens of small files and the bucket-pruned
    * scan pays per-file open cost instead of sequential reads — the
    * same rolling-log problem the reference handles with XTRIM
    * retention on its stream (src/queue/redis_queue.py:124-130).
    * `compact` rewrites `table` IN THE SAME bucket layout (count,
    * columns, sort), repartitioned so each bucket lands in one file,
    * then swaps it in place. Verdicts, plans, and the exchange-free
    * admit claims are unchanged — BucketedIndexMaintenanceSpec proves
    * verdict parity and the post-compact file collapse. Indexes with
    * companion tables compact each table separately.
    *
    * The swap is write-tmp → rename-live-aside → rename-tmp-in →
    * drop-aside: the live data is never deleted before its replacement
    * is fully written, so a crash at any point leaves a complete copy
    * on disk (worst case — between the two renames — the table name
    * dangles but both `<t>_compact_old` and `<t>_compact_tmp` hold full
    * copies; rename either back). Not atomic against a concurrent
    * reader of the SAME SparkSession catalog — production would run
    * this under a real catalog's table lock or as a new snapshot
    * version; the data path — one full read + one bucketed write, cost
    * ∝ index size, no joins — is what this operator pins. */
  def compact(s: SparkSession, table: String): Unit = {
    val meta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"$table is not a bucketed index table"))
    val bcols = spec.bucketColumnNames
    val tmp = table + "_compact_tmp"
    // align partitions with the bucket id so every bucket lands whole
    // in one task → one file per bucket. NOT repartition(n, bucketCols):
    // Spark elides a repartition that matches the table's bucket spec
    // even when it then plans the scan un-bucketed (multiple files per
    // bucket), which would re-write the mixed input layout verbatim.
    // pmod(hash(cols), n) IS Spark's bucket-id function, and as a
    // derived expression it always forces the exchange.
    val bucketId = pmod(hash(bcols.map(col): _*), lit(spec.numBuckets))
    val df = s.table(table).repartition(spec.numBuckets, bucketId)
    val w0 = df.write.bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
    val w = spec.sortColumnNames match {
      case head +: tail => w0.sortBy(head, tail: _*)
      case _ => w0
    }
    w.mode("overwrite").saveAsTable(tmp)
    val old = table + "_compact_old"
    s.sql(s"DROP TABLE IF EXISTS $old")
    s.sql(s"ALTER TABLE $table RENAME TO $old")
    // rename moves the managed directory aside; make sure the live
    // location is actually clear before renaming the replacement in
    // (DROP/RENAME can leave stray files with the local catalog)
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    s.sql(s"ALTER TABLE $tmp RENAME TO $table")
    val oldMeta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(old))
    s.sql(s"DROP TABLE $old")
    val oldLoc = new org.apache.hadoop.fs.Path(oldMeta.location)
    if (fs.exists(oldLoc)) fs.delete(oldLoc, true)
  }
}
