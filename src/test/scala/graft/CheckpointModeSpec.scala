package graft

import org.apache.spark.sql.functions._
import graft.operators.{Checkpoints, Dedup, Graph}

/**
 * [[Checkpoints.Scope.pin]] mode equivalence: the iterative operators
 * (connected components, PageRank, Lloyd-built IVF) must produce
 * IDENTICAL results whether rounds pin via `localCheckpoint` (no
 * checkpoint dir — the test/default mode) or via reliable
 * `checkpoint` (dir configured — the cluster hardening where rounds
 * survive executor loss). The switch is session state, not an operator
 * parameter, so one suite flips it around the same calls.
 *
 * The session-global checkpoint dir is restored in `finally` — other
 * suites share the JVM-wide session and must keep running in local
 * mode.
 */
class CheckpointModeSpec extends SparkSpec {

  private def withCheckpointDir[A](f: => A): A = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty,
      "suite expects no ambient checkpoint dir")
    sc.setCheckpointDir(tmpDir())
    try f
    finally {
      // SparkContext has no public unset API (the var is
      // private[spark]); reset via reflection so the shared JVM-wide
      // test session returns to local-pin mode for every other suite
      val fld = sc.getClass.getDeclaredField("checkpointDir")
      fld.setAccessible(true)
      fld.set(sc, None)
      require(sc.getCheckpointDir.isEmpty, "failed to reset checkpointDir")
    }
  }

  test("pin() selects reliable checkpoint iff the dir is configured") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    Checkpoints.scoped(_.pin(df))
    withCheckpointDir {
      val dir = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      // layout: setCheckpointDir appends a UUID component, so rdd-<id>
      // dirs are the direct children of getCheckpointDir
      def rddDirs() = Option(dir.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("rdd-"))
      val before = rddDirs()
      val reliable = Checkpoints.scoped(_.pin(df))
      assert(reliable.count() == 3)
      // the eager reliable checkpoint MATERIALIZED into the dir; the
      // local pin above wrote nothing there
      assert(rddDirs() > before,
        "dir set -> reliable checkpoint must write rdd-* dirs")
    }
  }

  test("duplicateClusters: identical labels in both modes") {
    import spark.implicits._
    // two chains + a triangle + a deep path (exercises the pointer jump)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
      (25L, 26L), (26L, 27L)).toDF("id_a", "id_b")
    val localMode = Dedup.duplicateClusters(pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reliableMode = withCheckpointDir {
      Dedup.duplicateClusters(pairs)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(localMode.nonEmpty && localMode.sameElements(reliableMode))
    // sanity: every member labeled by its component min
    assert(localMode.filter(_._1 >= 20L).forall(_._2 == 20L))
  }

  test("pageRank: bit-identical ranks in both modes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val localMode = Graph.pageRank(edges, "src", "dst", iters = 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val reliableMode = withCheckpointDir {
      Graph.pageRank(edges, "src", "dst", iters = 4)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    // integer-grid arithmetic: both modes must agree EXACTLY
    assert(localMode.sameElements(reliableMode))
  }

  test("semanticDuplicates (Lloyd loop): identical pairs in both modes") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      val base = Array.tabulate(8)(j =>
        math.sin(i * 1.7 + j * 0.9) + (if (i % 4 == 0) 3.0 else 0.0))
      (i.toLong, base)
    }.toDF("id", "v")
      // plant an exact twin of id 0 so at least one pair exists
      .unionByName(Seq((1000L,
        Array.tabulate(8)(j => math.sin(0 * 1.7 + j * 0.9) + 3.0)))
        .toDF("id", "v"))
    val run = () => Dedup.semanticDuplicates(vecs, "id", "v",
        nlist = 4, minCosine = 0.999)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val localMode = run()
    val reliableMode = withCheckpointDir(run())
    assert(localMode.contains((0L, 1000L)))
    assert(localMode == reliableMode)
  }
}
