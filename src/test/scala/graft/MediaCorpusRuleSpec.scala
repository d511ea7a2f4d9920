package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner for fixture media: the WAV writer, the pixel pattern and
  * the copy constructions' source check are written once, in
  * `multimodal/MediaCorpus.scala`, so no main source may build its own
  * corpus or payload. */
class MediaCorpusRuleSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/multimodal/MediaCorpus.scala")
  private val once = Seq(
    "AudioSystem.write" -> raw"AudioSystem\.write\(".r,
    "pixel pattern" -> raw"\*\s*31\s*\+\s*\w+\s*\*\s*23\b".r,
    "copy construction require" -> "copies need a source".r)

  test("WAV writing, the pixel pattern and the copy constructions' " +
      "require appear once, in MediaCorpus") {
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    once.foreach { case (name, re) =>
      val n = re.findAllMatchIn(ownerText).size
      assert(n == 1, s"$name appears $n times in the owner")
    }
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    val hits = for {
      p: Path <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      (name, re) <- once if re.findFirstIn(line).isDefined
    } yield s"$p:${n + 1}: $name"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
