package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The registry is organized by domain: one `Registry<Domain>` object
  * per domain owns its queries, fixtures and oracle fragments, and a
  * piece that two domains share lives in SparkEntry — so no domain
  * object reaches into another, and SparkEntry keeps only the query
  * contract and the shared pieces. */
class RegistryLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val pkg = root.resolve("graft")

  /** A source's lines with `//` comments and scaladoc lines dropped. */
  private def code(p: Path): String =
    Files.readAllLines(p).asScala
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .map(_.replaceAll("//.*$", "")).mkString("\n")

  private val domains: Map[String, String] = Files.list(pkg).iterator()
    .asScala.map(_.getFileName.toString)
    .filter(n => n.startsWith("Registry") && n.endsWith(".scala"))
    .map(n => n.stripSuffix(".scala") -> code(pkg.resolve(n))).toMap

  test("no main source is named after a round") {
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.size > 100, s"scanned only ${all.size} files")
    val rounds = all.map(_.getFileName.toString)
      .filter(_.matches("Registry.*Round.*"))
    assert(rounds.isEmpty, rounds.mkString(", "))
  }

  test("each domain registry is one object that no other domain reads") {
    assert(domains.size >= 8, domains.keys.mkString(", "))
    val entry = code(pkg.resolve("SparkEntry.scala"))
    domains.foreach { case (obj, src) =>
      assert(src.contains(s"private[graft] object $obj {"), obj)
      assert(entry.contains(s"$obj.entries"), s"SparkEntry omits $obj")
    }
    val hits = for {
      (obj, src) <- domains.toSeq
      other <- domains.keys if other != obj
      if s"\\b$other\\b".r.findFirstIn(src).nonEmpty
    } yield s"$obj refers to $other"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("SparkEntry keeps the query contract and pieces two domains share") {
    val contract = Set("Q", "pq", "r4", "sqlEsc", "entry", "registry",
      "queries", "oracleSql")
    val member =
      "(?m)^  (?:private\\[graft\\] )?(?:final case class|val|def) (\\w+)".r
    val members = member.findAllMatchIn(
      code(pkg.resolve("SparkEntry.scala"))).map(_.group(1)).toSet
    assert(contract.subsetOf(members), contract -- members)
    val single = (members -- contract).toSeq.sorted.flatMap { m =>
      val users = domains.collect {
        case (obj, src) if s"\\b$m\\b".r.findFirstIn(src).nonEmpty => obj
      }
      if (users.size >= 2) None
      else Some(s"$m is used by ${users.mkString(", ")} only")
    }
    assert(single.isEmpty, single.mkString("\n"))
  }
}
