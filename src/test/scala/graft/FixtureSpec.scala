package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import graft.sources.Bucketed

/** The fixture store's contract: reuse across calls with no in-memory
  * state, self-heal on ANY deleted file (whatever the layout), new keys
  * for new code or new source data, nothing published by a failed
  * build — and, over the registry, one build per fixture and none on a
  * second pass. */
class FixtureSpec extends SparkSpec {

  private val tmpRoot = new File(sys.props("java.io.tmpdir"))
  private val prefix = s"graft_fxspec${System.nanoTime()}"
  private var nameSeq = 0

  /** A fresh fixture name, so tests never share roots. */
  private def freshName(): String = { nameSeq += 1; s"${prefix}_$nameSeq" }

  private def source(): File = {
    val f = new File(tmpDir(), "src.bin")
    Files.write(f.toPath, "source".getBytes(UTF_8))
    f
  }

  private def write(f: File, content: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, content.getBytes(UTF_8))
  }

  /** A layout with the shapes the registry uses: a partitionBy-style
    * `col=value/` dir, a `_CURRENT` pointer resolved to a `vN/` dir,
    * zero-length commit markers and top-level files. */
  private def handLayout(tmp: File): Unit = {
    write(new File(tmp, "sketch"), "bits")
    write(new File(tmp, "part/_SUCCESS"), "")
    write(new File(tmp, "part/shard=a/part-0.parquet"), "aaaa")
    write(new File(tmp, "part/shard=b/part-0.parquet"), "bbbbbb")
    write(new File(tmp, "tbl/_CURRENT"), "v1")
    write(new File(tmp, "tbl/v1/_SUCCESS"), "")
    write(new File(tmp, "tbl/v1/part-0.parquet"), "cc")
  }

  private def listed(root: File): Seq[String] =
    Files.readAllLines(new File(root, Fixture.ManifestName).toPath, UTF_8)
      .asScala.toSeq.map(_.split("\t", 2)(1))

  /** Builds run by `f`. */
  private def builds(f: => Any): Long = {
    val b0 = Fixture.builds
    f
    Fixture.builds - b0
  }

  override protected def afterAll(): Unit =
    try Option(tmpRoot.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
      .foreach(FileUtils.deleteQuietly)
    finally super.afterAll()

  test("a second call reuses the published root: 0 builds") {
    val (src, name) = (source(), freshName())
    var root: File = null
    assert(builds { root = Fixture(src, name)(handLayout) } == 1)
    assert(builds { assert(Fixture(src, name)(handLayout) == root) } == 0)
    assert(listed(root).toSet == Set("sketch", "part/_SUCCESS",
      "part/shard=a/part-0.parquet", "part/shard=b/part-0.parquet",
      "tbl/_CURRENT", "tbl/v1/_SUCCESS", "tbl/v1/part-0.parquet"))
  }

  test("deleting any one listed file costs exactly one rebuild") {
    val (src, name) = (source(), freshName())
    val root = Fixture(src, name)(handLayout)
    for (rel <- listed(root)) {
      assert(new File(root, rel).delete(), rel)
      assert(builds(Fixture(src, name)(handLayout)) == 1, rel)
      assert(new File(root, rel).isFile, rel)
      assert(builds(Fixture(src, name)(handLayout)) == 0, rel)
    }
  }

  test("Spark's partitioned and versioned layouts self-heal the same way") {
    import spark.implicits._
    val (src, name) = (source(), freshName())
    def build(tmp: File): Unit = {
      val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "shard")
      df.write.partitionBy("shard").parquet(new File(tmp, "log").toString)
      Bucketed.writeBucketed(df, "graft_fxspec",
        new File(tmp, "tbl").toString, "id", 2)
    }
    val root = Fixture(src, name)(build)
    def dataFiles(dir: String): Seq[File] =
      FileUtils.listFiles(new File(dir), null, true).asScala.toSeq
        .filter(_.getName.startsWith("part-")).sortBy(_.getPath)
    def partitioned = dataFiles(new File(root, "log/shard=b").toString)
    def versioned = dataFiles(
      Bucketed.dataLocation(new File(root, "tbl").toString))
    assert(versioned.head.getParentFile.getName.matches("v\\d+"))
    // Spark names its files by write id, so a rebuild restores the
    // dir's contents, not the deleted name
    for (files <- Seq(() => partitioned, () => versioned)) {
      val n = files().size
      assert(files().head.delete())
      assert(builds(Fixture(src, name)(build)) == 1)
      assert(files().size == n)
      assert(builds(Fixture(src, name)(build)) == 0)
    }
    assert(spark.read.parquet(new File(root, "log").toString).count() == 3)
  }

  test("a new codeKey or a new source mtime builds a new root") {
    val (src, name) = (source(), freshName())
    val root = Fixture(src, name)(handLayout)
    var other: File = null
    def rekeyed(codeKey: String): Long =
      builds { other = Fixture(src, name, codeKey)(handLayout) }
    assert(rekeyed("v2") == 1)
    assert(other != root && root.isDirectory)
    assert(src.setLastModified(src.lastModified - 60000L))
    assert(rekeyed("") == 1)
    assert(other != root)
  }

  test("a build that throws publishes nothing and leaves no temp dir") {
    val (src, name) = (source(), freshName())
    val e = intercept[IllegalStateException] {
      Fixture(src, name) { tmp =>
        write(new File(tmp, "half"), "written before the failure")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(Option(tmpRoot.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(name)).isEmpty)
  }

  test("a root published without a manifest is rebuilt once") {
    val (src, name) = (source(), freshName())
    val root = Fixture(src, name)(handLayout)
    assert(new File(root, Fixture.ManifestName).delete())
    assert(builds(Fixture(src, name)(handLayout)) == 1)
    assert(builds(Fixture(src, name)(handLayout)) == 0)
  }

  test("registry: one build per fixture on a fresh copy, 0 on the rerun") {
    // every query that reads a Fixture root; q_cdc_time_travel shares
    // q_cdc_snapshot's fixture and q_point_lookup q_file_skipping's
    val names = Seq("q_cdc_snapshot", "q_cdc_time_travel",
      "q_cdc_compacted", "q_zorder_skipping", "q_file_skipping",
      "q_point_lookup", "q_ingest_admission_state", "q_cdc_novelty_state",
      "q_langid_table", "q_csv_roundtrip", "q_orc_roundtrip",
      "q_text_quality_table", "q_gopher_signals_table", "q_bucketed_join",
      "q_contamination_theta_state", "q_bucketed_doc_join",
      "q_jsonl_zst_roundtrip", "q_export_manifest", "q_cdx_fetch",
      "q_jsonl_roundtrip")
    // a copy of the data: new source paths are new keys
    val d = tmpDir()
    FileUtils.copyDirectory(new File("/root/testdata/sf0.01"), new File(d))
    val before = Option(tmpRoot.listFiles).toSeq.flatten.toSet
    def pass(): Long = builds(names.foreach { n =>
      SparkEntry.queries(n)(spark, d)
        .write.format("noop").mode("overwrite").save()
    })
    try {
      assert(pass() == 18)
      assert(pass() == 0)
    } finally Option(tmpRoot.listFiles).toSeq.flatten
      .filterNot(before).filter(_.getName.matches("graft_.*_[0-9a-f]{32}"))
      .foreach(FileUtils.deleteQuietly)
  }
}
