package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Storage-partitioned reads of bucket-laid-out snapshot dirs — the
  * Iceberg 1.8 storage-partitioned-join capability
  * (`/root/reference/docker-compose.yml:125`) re-expressed through
  * Spark's OWN v1 bucketing: a snapshot dir whose data files were
  * written one-murmur3-bucket-per-file (and named with Spark's
  * `_NNNNN` bucket suffix — [[graft.pipeline.Snapshot]]'s bucket-spec
  * write) scans through a [[HadoopFsRelation]] carrying the matching
  * [[BucketSpec]], so `FileSourceScanExec` reports
  * `HashPartitioning(col, n)` and EnsureRequirements inserts NO
  * exchange on this side of any join/aggregation keyed on `col` — the
  * other side alone shuffles to n partitions. Two graft tables
  * bucketed the same way join with zero exchanges on both sides.
  *
  * This is exactly how Spark reads its own metastore bucketed tables;
  * the only thing the metastore normally contributes is the
  * (numBuckets, column) pair, which here lives in the snapshot dir's
  * `_graft_buckets` marker instead. Correctness does not depend on the
  * claim being cheap to produce: the files were WRITTEN by
  * `repartition(n, col)` — Spark's HashPartitioning with the identical
  * Murmur3 hash the read-side claim advertises — so co-location is by
  * construction, not convention.
  */
object BucketedBridge {

  /** DataFrame over a bucket-laid-out snapshot dir, its scan reporting
    * `HashPartitioning(cols, n)` — one or several bucket columns (a
    * composite `bucket(n, c1, c2)` spec writes one murmur3 bucket of
    * the column TUPLE per file, exactly Spark's own multi-column
    * `bucketBy`). Hive partition fragments (the hidden md5 transform
    * dirs) are discovered as usual and compose: fragment pruning and
    * bucket partitioning are independent layers. */
  def read(spark: SparkSession, dir: String, numBuckets: Int,
           cols: Seq[String]): DataFrame = {
    val probe = PruningBridge.scan(spark, dir)
    val index = new InMemoryFileIndex(spark, Seq(new Path(dir)),
      Map.empty, None)
    val partSchema = index.partitionSpec().partitionColumns
    val partNames = partSchema.fieldNames.toSet
    val dataSchema = StructType(
      probe.schema.fields.filterNot(f => partNames.contains(f.name)))
    val rel = HadoopFsRelation(index, partSchema, dataSchema,
      Some(BucketSpec(numBuckets, cols, Nil)),
      new ParquetFileFormat, Map.empty)(spark)
    PlanBridge.ofRows(spark, LogicalRelation(rel))
  }
}
