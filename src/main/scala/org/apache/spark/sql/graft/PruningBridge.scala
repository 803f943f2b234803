package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.HadoopFSUtils

import graft.pipeline.ScanPruning

/** Data skipping inside the NORMAL Spark read path — the FileIndex
  * integration Delta and Iceberg's Spark module use: the scan's own
  * pushed data filters prune whole files against the snapshot's
  * `_scan_manifest.tsv` stats at PLAN time, so a plain
  * `spark.sql("SELECT … WHERE k BETWEEN …")` over a sort-clustered
  * graft table schedules O(matching files) tasks with no API opt-in
  * ([[graft.pipeline.Snapshot.prunedRead]] remains the explicit form
  * and additionally consults bloom filters).
  *
  * Safety: only the manifest is consulted (zero extra I/O at plan
  * time beyond one sidecar read at index construction); bounds
  * extracted from filters are widened to inclusive, unknown predicate
  * shapes are ignored, and a file without stats is always kept — the
  * skip is a strict superset guarantee, with Spark's own row-group
  * pruning and the exact filter still underneath. */
object PruningBridge {

  /** DataFrame over a snapshot dir that plans through the stats-
    * pruning index when a valid manifest exists, else the plain
    * [[scan]]; equal in schema and results to Spark's own parquet
    * read of `dir` either way, and planned without a Spark job. */
  def read(spark: SparkSession, dir: String): DataFrame =
    ScanPruning.manifestForSkipping(spark, dir) match {
      case None => scan(spark, dir)
      case Some(stats) =>
        val probe = scan(spark, dir)
        val index = new StatsPruningFileIndex(spark, dir, stats)
        val partSchema = index.partitionSpec().partitionColumns
        val partNames = partSchema.fieldNames.toSet
        val dataSchema = StructType(
          probe.schema.fields.filterNot(f => partNames.contains(f.name)))
        val rel = HadoopFsRelation(index, partSchema, dataSchema,
          None, new ParquetFileFormat, Map.empty)(spark)
        PlanBridge.ofRows(spark, LogicalRelation(rel))
    }

  /** The parquet read of `paths` (dirs or files), planned without
    * Spark's schema-inference job. Spark's inference reads ONE footer
    * when schema merging is off: a summary file if any, else the first
    * data file by path. That footer is read here on the driver through
    * Spark's own `readSchemaFromFooter` and the session's converter,
    * and the scan plans with the resulting schema, so Hive partition
    * columns are still discovered and typed by Spark. Spark infers
    * the schema itself where it would not read one footer — schema
    * merging on, or no data file (its own error then) — and where the
    * layout is neither flat nor Hive-partitioned, or a partition
    * column is also stored in the file, which inference and a given
    * schema place differently. */
  def scan(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    // each file with the k=v fragment keys between its root and it;
    // None below a plain directory, whose files Spark does not read
    def leaves(fs: FileSystem, s: FileStatus, keys: Option[Seq[String]])
        : Seq[(FileStatus, Option[Seq[String]])] =
      if (!s.isDirectory) Seq(s -> keys)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(
          c.getPath.getName))
        .flatMap { c =>
          val name = c.getPath.getName
          leaves(fs, c,
            if (!c.isDirectory) keys
            else if (name.contains('=')) keys.map(_ :+ name.takeWhile(_ != '='))
            else None)
        }
    val listed = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoop)
      if (fs.exists(path)) leaves(fs, fs.getFileStatus(path), Some(Nil))
      else Nil
    }.sortBy(_._1.getPath.toString)
    val files = listed.map(_._1)
    val summaries = Seq("_common_metadata", "_metadata")
    val footerFile = summaries
      .flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .filterNot(_ => conf.isParquetSchemaMergingEnabled)
    def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val schema = footerFile.map { f =>
      val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoop),
        ParquetMetadataConverter.SKIP_ROW_GROUPS))
      ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(conf))
    }.filter { s =>
      val stored = s.fieldNames.map(lower).toSet
      listed.forall(_._2.exists(_.forall(k => !stored(lower(k)))))
    }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Inclusive [[ScanPruning.ColumnRange]]s implied by a scan's pushed
    * data filters (already conjunctive). Strict comparisons widen to
    * inclusive; anything unrecognized contributes nothing. */
  private[graft] def rangesOf(
      filters: Seq[Expression]): Seq[ScanPruning.ColumnRange] = {
    def value(l: Literal): Option[Any] = l.value match {
      case null => None
      case s: UTF8String => Some(s.toString)
      case n: java.lang.Number => Some(n)
      case b: java.lang.Boolean => None
      case _ => None
    }
    val bounds = filters.flatMap {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        value(l).map(v => (a.name, Some(v), None))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        value(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        value(l).map(v => (a.name, None, Some(v)))
      case LessThan(a: AttributeReference, l: Literal) =>
        value(l).map(v => (a.name, None, Some(v)))
      case EqualTo(a: AttributeReference, l: Literal) =>
        value(l).map(v => (a.name, Some(v), Some(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        value(l).map(v => (a.name, Some(v), Some(v)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        value(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        value(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        value(l).map(v => (a.name, Some(v), None))
      case LessThan(l: Literal, a: AttributeReference) =>
        value(l).map(v => (a.name, Some(v), None))
      case _ => None
    }
    bounds.groupBy(_._1).map { case (col, bs) =>
      // intersect: tightest lower and upper over the conjunction
      val lowers = bs.flatMap(_._2)
      val uppers = bs.flatMap(_._3)
      ScanPruning.ColumnRange(col,
        if (lowers.isEmpty) None
        else Some(lowers.maxBy(identity)(ScanPruning.boundOrdering)),
        if (uppers.isEmpty) None
        else Some(uppers.minBy(identity)(ScanPruning.boundOrdering)))
    }.toSeq
  }

  /** ANY-OF value sets implied by pushed `IN` filters — the shape a
    * key-list lookup (e.g. the dim-delta fact prune in
    * [[graft.pipeline.Rollup]]) pushes to the scan. A file survives
    * when ANY listed value can sit inside its [min,max]; on a
    * key-clustered layout that prunes to O(files holding the listed
    * keys). Both the literal `In` and the optimizer's `InSet`
    * (conversion past the threshold) are recognized; a null in the
    * list contributes nothing (`IN` never matches null anyway).
    *
    * A value the comparable conversion cannot handle (Decimal
    * literals over decimal columns, `Array[Byte]` over binary — both
    * of which DO carry manifest stats as long/string) must abort the
    * WHOLE entry, not just drop the value: an any-of check over a
    * reduced set would prune files that hold exactly the dropped
    * values and silently return missing rows. Mirrors how
    * [[rangesOf]] rejects unconvertible literals per-filter. */
  private[graft] def inSetsOf(
      filters: Seq[Expression]): Seq[(String, Seq[Any])] = {
    def conv(v: Any): Option[Any] = v match {
      case null => None
      case s: UTF8String => Some(s.toString)
      case n: java.lang.Number => Some(n)
      case _ => None
    }
    // None = at least one non-null value is not comparable → the
    // filter contributes no skipping (every file kept on its account)
    def convAll(vs: Iterable[Any]): Option[Seq[Any]] = {
      val nonNull = vs.filter(_ != null).toSeq
      val converted = nonNull.flatMap(conv(_))
      if (converted.length == nonNull.length && converted.nonEmpty)
        Some(converted)
      else None
    }
    filters.flatMap {
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        convAll(vs.map(_.asInstanceOf[Literal].value)).map(a.name -> _)
      case InSet(a: AttributeReference, hset) =>
        convAll(hset).map(a.name -> _)
      case _ => None
    }
  }
}

/** [[InMemoryFileIndex]] that additionally drops files whose manifest
  * stats cannot satisfy the scan's data filters. Partition pruning
  * (the `partitionFilters` argument) is untouched — the two skip
  * layers compose. */
class StatsPruningFileIndex(
    sparkSession: SparkSession, dir: String,
    stats: Map[String, Map[String, (Any, Any)]])
  extends InMemoryFileIndex(sparkSession, Seq(new Path(dir)),
    Map.empty, None) {

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val ranges = PruningBridge.rangesOf(dataFilters)
    val inSets = PruningBridge.inSetsOf(dataFilters)
    if (ranges.isEmpty && inSets.isEmpty) base
    else base.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        stats.get(f.getPath.getName) match {
          case None => true // unlisted file → cannot exclude
          case Some(cols) =>
            def statOf(column: String) =
              cols.get(column.toLowerCase(java.util.Locale.ROOT))
            ranges.forall { r =>
              statOf(r.column) match {
                case None => true
                case Some((mn, mx)) =>
                  // a type mismatch between a filter literal and the
                  // stored stat (caller cast an incompatible value)
                  // must keep the file, not fail the plan
                  try {
                    r.lower.forall(l => ScanPruning.cmp(mx, l) >= 0) &&
                      r.upper.forall(u => ScanPruning.cmp(mn, u) <= 0)
                  } catch { case _: IllegalArgumentException => true }
              }
            } && inSets.forall { case (column, values) =>
              statOf(column) match {
                case None => true
                case Some((mn, mx)) =>
                  // ANY-OF: the file survives when some listed value
                  // can sit inside its [min,max]
                  try values.exists(v =>
                    ScanPruning.cmp(v, mn) >= 0 &&
                      ScanPruning.cmp(v, mx) <= 0)
                  catch { case _: IllegalArgumentException => true }
              }
            }
        }
      })
    }.filter(_.files.nonEmpty)
  }
}
