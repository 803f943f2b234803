package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Every rename-based commit on the local filesystem — the one place
  * the table layer's "write to tmp, then rename" protocol lives.
  *
  *  - [[replace]]: one file, atomically (writer-unique, dot-prefixed
  *    tmp sibling, then rename over the target). Dot-prefixed so a
  *    half-written tmp is never part of a commit signature or visible
  *    to a scan; writer-unique so two writers never share a tmp.
  *  - [[read]] / [[readBytes]]: one file, if it exists.
  *  - [[promote]]: one staged directory over a target directory, under
  *    the per-path commit lock, after the caller's base check.
  *  - [[rename]]: a single atomic rename into place.
  *
  * Invariant: a file written INSIDE a staging directory (version and
  * operation markers, `_commit`, commit meta, the bucket marker,
  * branch markers) is a plain write — the directory rename that
  * follows is what publishes it, so it never needs a rename of its
  * own. */
object FsCommit {

  /** Replace `target` atomically with `bytes`. */
  def replace(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp-$token")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** [[replace]] with UTF-8 text. */
  def replace(target: Path, text: String): Unit =
    replace(target, text.getBytes(UTF_8))

  /** The file's bytes; None when it does not exist. */
  def readBytes(f: Path): Option[Array[Byte]] =
    if (Files.exists(f)) Some(Files.readAllBytes(f)) else None

  /** The file's UTF-8 text; None when it does not exist. */
  def read(f: Path): Option[String] =
    readBytes(f).map(new String(_, UTF_8))

  /** Atomically rename `src` to `dst` (which must not exist). */
  def rename(src: Path, dst: Path): Unit =
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)

  /** Per-path intra-JVM commit locks: the promote section of two
    * concurrent committers to the SAME table must serialize (a
    * single-driver Spark app is the one writer a plain-FS layout can
    * host; cross-driver safety needs a catalog service, like Iceberg
    * without one). Entries are strong and never removed: one small
    * object per table path this JVM ever committed to. */
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Run `body` holding the commit lock of `path`. */
  def locked[T](path: String)(body: => T): T =
    locks.getOrElseUpdate(path, new Object).synchronized(body)

  /** Staging names this module creates beside a target directory:
    * `.tmp-swap-<token>` / `.old-swap-<token>`. The untokenized and
    * `-erase` forms are what older writers left behind; they match so
    * orphan cleanup still finds them. */
  val StagingSuffix = """\.(tmp|old)-(swap|erase)(-[0-9a-f]+)?"""

  private val StagingName = (".*" + StagingSuffix).r

  /** Is `name` a staging or displaced directory of some target? */
  def isStaging(name: String): Boolean =
    StagingName.matches(name)

  /** Promote a staged directory over `target`: `stage` fills
    * `<target>.tmp-swap-<token>`; then, holding the commit lock of
    * `lock`, `check` runs on the staged dir (throw to abort — the
    * caller's optimistic base check) and the rename pair lands: the
    * existing target moves to `retainAs` (history) or to
    * `<target>.old-swap-<token>` (deleted after), then the staged dir
    * moves to `target`. The staged dir is removed on every exit. */
  def promote(target: Path, lock: String, retainAs: Option[Path] = None)
             (stage: Path => Unit)(check: Path => Unit): Unit = {
    val t = token
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-swap-$t")
    val old = target.resolveSibling(s"${target.getFileName}.old-swap-$t")
    try {
      stage(tmp)
      locked(lock) {
        check(tmp)
        if (Files.exists(target)) rename(target, retainAs.getOrElse(old))
        rename(tmp, target)
      }
      deleteRecursively(old)
    } finally deleteRecursively(tmp)
  }

  /** Delete `p` and everything under it, if it exists. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  private def token: String = java.util.UUID.randomUUID().toString.take(8)
}
