package graft.pipeline

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** REBUILD-ONLY MATERIALIZATION — the Trino-parity fallback class for
  * `CREATE MATERIALIZED VIEW` defining queries the incremental rollup
  * machinery cannot maintain (HAVING, DISTINCT, outer joins, raw
  * `sum(double)`, window functions, …). Trino — the reference's query
  * fabric (`/root/reference/docker-compose.yml:114`) — accepts ANY
  * defining query and fully recomputes it on REFRESH; this class
  * completes that surface WITHOUT touching the engine's exactness
  * contract: the store pins the snapshot version of EVERY source
  * table it read, reads serve the store only while every pin still
  * matches the live version, and a stale store falls back to the
  * base plan (unlike Trino, a stale MV here is never wrong, only
  * slower — the same fresh-serves/stale-falls-back discipline as the
  * maintained-rollup MVs).
  *
  * ```
  * <dir>/table     materialized defining-query result   snapshot
  * <dir>/_mt_meta  one line per source: urlenc(path) <version>
  * ```
  *
  * The catalog command layer ([[graft.catalog]]) owns query parsing
  * and table→path resolution; this module owns only the store
  * lifecycle, mirroring [[Rollup]]'s split. */
object MaterializedTable {

  /** Source snapshot paths and the versions the LAST materialization
    * read — the freshness pins. */
  final case class Meta(sources: Seq[(String, Long)])

  def tableDir(dir: String): String = s"$dir/table"
  private def metaFile(dir: String) = Paths.get(dir, "_mt_meta")

  def meta(dir: String): Option[Meta] =
    FsCommit.read(metaFile(dir)).map(text => Meta(
      text.trim.split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(p, v) = line.split("\\s+", 2)
        (java.net.URLDecoder.decode(p, "UTF-8"), v.trim.toLong)
      }))

  private def writeMeta(dir: String, m: Meta): Unit = {
    Files.createDirectories(Paths.get(dir))
    FsCommit.replace(metaFile(dir), m.sources.map { case (p, v) =>
      java.net.URLEncoder.encode(p, "UTF-8") + s" $v"
    }.mkString("", "\n", "\n"))
  }

  /** Fresh ⟺ every pinned source still sits at its pinned version —
    * the read-rewrite's gate. A missing meta (mid-create, foreign
    * dir) is never fresh. */
  def isFresh(dir: String): Boolean =
    meta(dir).exists(_.sources.forall { case (p, v) =>
      Snapshot.currentVersion(p).contains(v) })

  /** (Re)materialize: pin every source's LIVE version FIRST, then
    * evaluate the defining result and swap it in. A commit landing
    * DURING evaluation can only make the pins stale (reads fall back
    * — safe direction), never let a newer result serve under an
    * older pin. @return materialized row count */
  def materialize(spark: org.apache.spark.sql.SparkSession, dir: String,
                  result: => DataFrame,
                  sourcePaths: Seq[String]): Long = {
    val pinned = sourcePaths.distinct.map { p =>
      p -> Snapshot.currentVersion(p).getOrElse(
        throw new IllegalArgumentException(
          s"rebuild-only materialized views need versioned snapshot " +
            s"sources for the freshness gate; $p is not one"))
    }
    Snapshot.createOrReplace(result, tableDir(dir), keepVersions = 1)
    writeMeta(dir, Meta(pinned))
    Snapshot.read(spark, tableDir(dir)).count()
  }
}
