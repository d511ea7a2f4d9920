package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner for held intermediates: pins, background jobs and observed
  * metrics go through `Checkpoints.scoped`, so no main source outside
  * `operators/Checkpoints.scala` may use the raw mechanisms. */
class PinRuleSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/operators/Checkpoints.scala")
  private val banned = Seq("supplyAsync", "CompletableFuture",
    "new org.apache.spark.sql.Observation", ".localCheckpoint(",
    ".pinned()")

  test("raw pins, async jobs and observations appear only in Checkpoints") {
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    val hits = for {
      p: Path <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- banned if line.contains(word)
    } yield s"$p:${n + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
