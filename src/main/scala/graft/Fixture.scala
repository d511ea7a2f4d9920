package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils

/**
 * The on-disk fixture store behind every registry fixture (admission
 * state, z-ordered and bucketed tables, format round-trip inputs, …):
 * one place decides where a fixture lives, when it is present and how
 * it is published.
 *
 *  - Key: the source file's path + length + mtime, plus `codeKey` for
 *    fixtures whose bytes depend on the builder's code (the CSV
 *    dialect, a profile table, chunking params). Regenerated source
 *    data or a changed builder lands in a new root instead of being
 *    served stale state — java.io.tmpdir outlives code changes.
 *  - Publish: `build` writes into a temp sibling of the root; the store
 *    then lists every regular file's relative path and length in
 *    [[ManifestName]] and publishes the dir with ONE atomic rename, the
 *    way parquery's writer publishes a shard. A failed build deletes
 *    its temp dir; a crashed one leaves only unreferenced garbage,
 *    never a half-state a later run would trust. Losing the rename race
 *    to a concurrent builder is fine: the published copy wins.
 *  - Hit: a root counts only if its manifest exists and every listed
 *    file still has its recorded length. Anything else (age-based tmp
 *    cleaners delete single files; roots published before the
 *    manifest) deletes the root and rebuilds it. The check knows
 *    nothing about the layout, so a layout cannot disagree with it.
 *  - Fixtures are inputs only: never a cached query result, never
 *    keyed on an expected output.
 */
object Fixture {

  /** `_`-prefixed so Spark's file listing skips it when a root is read
    * directly as a parquet dir. One `length<TAB>relative/path` line per
    * file. */
  val ManifestName = "_FIXTURE_MANIFEST"

  private val buildCount = new AtomicLong

  /** Builds started in this JVM; hits do not count. */
  def builds: Long = buildCount.get

  /** The fixture root for `src` under `name`, built by `build(tmp)` and
    * published unless a complete copy already exists. */
  def apply(src: File, name: String, codeKey: String = "")
           (build: File => Unit): File = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${src.getPath}|${src.length}|${src.lastModified}|$codeKey"
        .getBytes(UTF_8))
      .map("%02x".format(_)).mkString
    val root = new File(sys.props("java.io.tmpdir"), s"${name}_$key")
    if (!complete(root)) {
      // self-heal; the delete may race a concurrent healer mid-walk —
      // both fall through to the rebuild
      FileUtils.deleteQuietly(root)
      val tmp = new File(root.getParentFile,
        root.getName + ".build" + System.nanoTime())
      buildCount.incrementAndGet()
      try {
        build(tmp)
        writeManifest(tmp)
      } catch {
        case e: Throwable =>
          FileUtils.deleteQuietly(tmp)
          throw e
      }
      if (!tmp.renameTo(root)) FileUtils.deleteQuietly(tmp)
    }
    root
  }

  private def writeManifest(dir: File): Unit = {
    val base = dir.toPath
    val walk = Files.walk(base)
    val lines =
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        val rel = base.relativize(p).toString.replace(File.separatorChar, '/')
        s"${Files.size(p)}\t$rel\n"
      }.toVector.sorted
      finally walk.close()
    Files.write(base.resolve(ManifestName), lines.mkString.getBytes(UTF_8))
  }

  private def complete(root: File): Boolean = {
    val manifest = new File(root, ManifestName)
    manifest.isFile && (try {
      Files.readAllLines(manifest.toPath, UTF_8).asScala.forall { line =>
        val Array(len, rel) = line.split("\t", 2)
        val f = new File(root, rel)
        f.isFile && f.length == len.toLong
      }
    } catch { case NonFatal(_) => false })
  }
}
