package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner for hostile-payload handling: the ZIP walk, the XXE-off
  * StAX factory and the quarantine error text live in
  * `sources/Payload.scala`, so no other main source may build its own. */
class PayloadRuleSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/sources/Payload.scala")
  private val banned = Seq("XMLInputFactory.newInstance",
    "new java.util.zip.ZipInputStream",
    "getOrElse(e.getClass.getSimpleName)")

  test("ZIP walks, StAX factories and quarantine text appear only in " +
      "Payload") {
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    banned.foreach(w => assert(ownerText.contains(w), s"owner lacks $w"))
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
