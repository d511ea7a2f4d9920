package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** One owner for the native kernels' names: a Column helper builds its
  * kernel's expression itself, so no main source registers the
  * `graft_*` names before using a kernel, and `call_function` names only
  * Spark's built-in functions. */
class NativeRuleSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/plans/NativeExpressions.scala")
  private val callName = "call_function\\(\\s*\"([^\"]+)\"".r

  private def lines: Seq[(Path, String, Int)] = {
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
    } yield (p, line, n + 1)
  }

  test("NativeFunctions.register is called nowhere in main sources") {
    assert(new String(Files.readAllBytes(owner), "UTF-8")
      .contains("def register(spark: SparkSession)"))
    val hits = lines.collect {
      case (p, line, n) if p != owner &&
          line.contains("NativeFunctions.register(") => s"$p:$n"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("call_function names only Spark built-ins") {
    val calls = lines.filter(_._2.contains("call_function("))
    assert(calls.nonEmpty)
    val hits = calls.collect {
      case (p, line, n) if callName.findFirstMatchIn(line).forall(m =>
          !FunctionRegistry.builtin.functionExists(
            FunctionIdentifier(m.group(1)))) => s"$p:$n: ${line.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
