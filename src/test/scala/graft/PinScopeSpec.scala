package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.operators.{Checkpoints, Dedup, Graph, Similarity}

/** The pin scope's contract: every operator leaves behind only the pins
  * its result reads — on every input shape, on failure too — and
  * `async`/`observed` keep their promises (inherited job properties,
  * the body's own exception, a bounded metric wait). */
class PinScopeSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  // interrupt, not just report, a stuck operator
  implicit val signaler: Signaler = ThreadSignaler

  // compared by id, not count: the context cleaner may free an earlier
  // test's RDD meanwhile
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frames(r: Any): Seq[DataFrame] = r match {
    case ds: Dataset[_] => Seq(ds.toDF)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Seq.empty
  }

  /** Run `op` and collect its result — or catch its error — inside 60 s,
    * then unpin the result: no persisted RDD may be left that was not
    * there before. The error, if any. */
  private def leavesNoPins(op: => Any): Option[Throwable] = {
    val before = persisted()
    val error = failAfter(60.seconds) {
      try {
        val out = frames(op)
        try { out.foreach(_.collect()); None }
        finally out.foreach(Checkpoints.unpin)
      } catch { case NonFatal(e) => Some(e) }
    }
    val leaked = persisted().diff(before)
    assert(leaked.isEmpty, s"pins left behind: $leaked (error: $error)")
    error
  }

  private def assertNamed(error: Option[Throwable], words: String*): Unit = {
    assert(error.isDefined, "expected a named error, got a result")
    val msg = Iterator.iterate(error.get)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      .mkString(" / ")
    assert(words.exists(msg.contains), msg)
  }

  private val boom = udf((x: Long) =>
    if (x == 3L) throw new IllegalStateException("boom at 3") else x)

  // ---- graph and cluster operators ----------------------------------------

  private def edges(rows: (Option[Long], Option[Long])*): DataFrame =
    rows.toDF("s", "t")
  private val some = Option(_: Long)
  private val graphInputs: Seq[(String, () => DataFrame)] = Seq(
    "normal" -> (() => edges((1L to 6L).map(i =>
      (some(i), some(i % 6 + 1))) :+ (some(1L), some(4L)): _*)),
    "empty" -> (() => edges()),
    "all-null" -> (() => edges((None, None), (None, None))),
    "single-edge" -> (() => edges((some(1L), some(2L)))),
    "failing" -> (() => (1L to 6L).map(i => (i, i % 6 + 1)).toDF("s0", "t")
      .select(boom(col("s0")).as("s"), col("t"))))

  private val graphOps: Seq[(String, DataFrame => Any)] = Seq(
    "pageRank" -> (e => Graph.pageRank(e, "s", "t")),
    "hits" -> (e => Graph.hits(e, "s", "t")),
    "duplicateClusters" -> (e => Dedup.duplicateClusters(
      e.select(col("s").as("id_a"), col("t").as("id_b")))))

  for ((op, run) <- graphOps; (kind, input) <- graphInputs)
    test(s"$op on $kind input leaves only its result's pins") {
      val error = leavesNoPins(run(input()))
      kind match {
        case "failing" => assertNamed(error, "boom at 3")
        case "empty" | "all-null" if op != "duplicateClusters" =>
          assertNamed(error, s"$op needs a non-empty edge list")
        case _ => assert(error.isEmpty, error)
      }
    }

  // ---- embedding operators: semantic dedup, IVF / PQ training -------------

  private def vecs(n: Int): DataFrame = (0 until n).map(i =>
    (i.toLong, Seq.tabulate(8)(j => math.sin((i % 7) * 8 + j))))
    .toDF("id", "v")
  private val vecInputs: Seq[(String, () => DataFrame)] = Seq(
    "normal" -> (() => vecs(40)),
    "empty" -> (() => vecs(0)),
    "all-null" -> (() => Seq[(Long, Option[Seq[Double]])]((1L, None),
      (2L, None)).toDF("id", "v")),
    "single-edge" -> (() => vecs(1)),
    "failing" -> (() => vecs(40).select(boom(col("id")).as("id"), col("v"))))

  private val vecOps: Seq[(String, DataFrame => Any)] = Seq(
    "semanticDedup" -> (d => Dedup.semanticDedup(d, "id", "v", nlist = 4)),
    "semanticDedup farthest" -> (d => Dedup.semanticDedup(d, "id", "v",
      nlist = 4, keepPolicy = "farthest")),
    "ivfTopK" -> (d => Similarity.ivfTopK(d, vecs(3).select(
        col("id").as("qid"), col("v").as("qv")), "id", "v", "qid", "qv",
      k = 2, nlist = 4, nprobe = 2)),
    "ivfpqIndex" -> (d => Similarity.ivfpqIndex(d, "id", "v", nlist = 4,
      m = 2, ksub = 4)))

  for ((op, run) <- vecOps; (kind, input) <- vecInputs)
    test(s"$op on $kind input leaves only its result's pins") {
      val error = leavesNoPins(run(input()))
      if (kind == "failing") assertNamed(error, "boom at 3")
      else if (kind != "all-null") assert(error.isEmpty, error)
    }

  // ---- ingestion admission ------------------------------------------------

  private val seen = Seq((1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "one two three four five six seven")).toDF("doc_id", "text")
  private def docs(texts: (Long, String)*): DataFrame =
    texts.toDF("doc_id", "text")
  private val admissionInputs: Seq[(String, () => (DataFrame, Long))] = Seq(
    "normal" -> (() => (docs((3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "a wholly novel line of words here")), 1L << 16)),
    "empty" -> (() => (docs(), 1L << 16)),
    "all-null" -> (() => (Seq[(Long, Option[String])]((3L, None))
      .toDF("doc_id", "text"), 1L << 16)),
    "single-edge" -> (() => (docs((3L, "a single novel doc")), 1L << 16)),
    "failing (over-cap numBits)" -> (() => (docs((3L, "x y z")), 1L << 40)),
    "failing (UDF in the batch)" -> (() => (docs((3L, "x y z"))
      .select(boom(col("doc_id")).as("doc_id"), col("text")), 1L << 16)))

  for ((kind, input) <- admissionInputs)
    test(s"ingestAdmission on $kind input leaves only its result's pins") {
      val error = leavesNoPins {
        val (batch, numBits) = input()
        Dedup.ingestAdmission(batch, seen, "doc_id", "text",
          expectedItems = 1000L, numBits = numBits)
      }
      if (kind.contains("numBits"))
        assertNamed(error, "exceeds BloomFilterAggregate's clamp")
      else if (kind.contains("UDF")) assertNamed(error, "boom at 3")
      else assert(error.isEmpty, error)
    }

  // ---- the scope itself ---------------------------------------------------

  test("a kept pin moves to the enclosing scope and is released there") {
    val before = persisted()
    val n = Checkpoints.scoped { _ =>
      Graph.pageRank(edges((some(1L), some(2L))), "s", "t").count()
    }
    assert(n == 2L)
    assert(persisted().diff(before).isEmpty)
  }

  test("async: a background job carries the caller's job tag and " +
      "description") {
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addJobTag("pin-scope-tag")
    sc.setJobDescription("pin scope async test")
    try {
      val n = Checkpoints.scoped { s =>
        s.async(spark.range(7).where(col("id") > 2).count())()
      }
      assert(n == 4L)
      failAfter(30.seconds) {
        while (!seen.asScala.exists(
            _.getProperty("spark.job.description") == "pin scope async test"))
          Thread.sleep(50)
      }
      val props = seen.asScala.filter(
        _.getProperty("spark.job.description") == "pin scope async test")
      assert(props.forall(p => Option(p.getProperty("spark.job.tags"))
        .exists(_.split(",").contains("pin-scope-tag"))))
    } finally {
      sc.removeJobTag("pin-scope-tag")
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("async: a throwing body surfaces as its own exception class") {
    class BodyFailure extends RuntimeException("body failed")
    val e = intercept[BodyFailure] {
      Checkpoints.scoped { s =>
        s.async[Long](throw new BodyFailure)()
      }
    }
    assert(e.getMessage == "body failed")
  }

  test("async: a body still running when the scope's body throws is " +
      "awaited and its pin released") {
    val started = new CountDownLatch(1)
    val before = persisted()
    @volatile var pinned: DataFrame = null
    val e = intercept[IllegalStateException] {
      Checkpoints.scoped { s =>
        s.async {
          started.countDown()
          Thread.sleep(500) // still running when the body throws
          pinned = s.pin(spark.range(100).toDF("id"))
        }
        started.await()
        throw new IllegalStateException("scope body failed")
      }
    }
    assert(e.getMessage == "scope body failed")
    assert(pinned != null, "the scope ended before its async body")
    assert(persisted().diff(before).isEmpty)
  }

  test("observed: a metric row that never arrives fails with a named " +
      "error within the bound") {
    // a listener that blocks the shared listener queue holds back the
    // execution-end event that delivers the metrics, past the bound
    val release = new CountDownLatch(1)
    @volatile var armed = true
    val blocker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (armed) { armed = false; release.await() }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(blocker)
    val before = persisted()
    try {
      val e = failAfter(Checkpoints.ObserveTimeout + 30.seconds) {
        intercept[IllegalStateException] {
          Checkpoints.scoped { s =>
            s.observed(spark.range(10).toDF("id"), count(lit(1)).as("n"))
          }
        }
      }
      assert(e.getMessage.startsWith("observation "))
      assert(e.getMessage.contains("metrics did not arrive within"))
    } finally {
      release.countDown()
      sc.removeSparkListener(blocker)
    }
    assert(persisted().diff(before).isEmpty)
  }

  test("observed: the metric row names its fields by the metrics' " +
      "aliases") {
    val (row, n) = Checkpoints.scoped { s =>
      val (df, m) = s.observed(spark.range(10).toDF("id"),
        count(lit(1)).as("n"), sum(col("id")).as("total"))
      (m, df.count())
    }
    assert(n == 10L)
    assert(row.getAs[Long]("n") == 10L && row.getAs[Long]("total") == 45L)
  }

  // ---- the registry -------------------------------------------------------

  test("every registry query leaves no pin behind once its result is " +
      "collected and unpinned (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, run) =>
        val before = persisted()
        val out = run(spark, d)
        out.write.format("noop").mode("overwrite").save()
        Checkpoints.unpin(out)
        val leaked = persisted().diff(before)
        if (leaked.isEmpty) None else Some(s"$name: $leaked")
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
