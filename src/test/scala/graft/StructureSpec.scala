package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards for the engine's structure: one session factory,
  * one code path per native operator, and batch only.
  */
class StructureSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def linesContaining(root: String, needle: String): Seq[String] =
    scalaFiles(root).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$f:${i + 1}: ${line.trim}"
      }
    }

  test("src/main has no functionExists lookups: one code path per native operator") {
    val hits = linesContaining("src/main", "functionExists" + "(")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only graft/Session.scala builds a SparkSession") {
    val hits = Seq("src/main", "src/test")
      .flatMap(linesContaining(_, "SparkSession" + ".builder"))
    assert(hits.nonEmpty, "the factory itself must be found")
    val outside = hits.filterNot(_.startsWith("src/main/scala/graft/Session.scala:"))
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("src/main is batch only: no Structured Streaming API, no DataSourceRegister service") {
    val needles = Seq("readStream", "writeStream", "GroupState",
      "org.apache.spark.sql.streaming", "connector.read.streaming")
    val hits = needles.flatMap(linesContaining("src/main", _))
    assert(hits.isEmpty, hits.mkString("\n"))
    val services = Paths.get("src/main/resources/META-INF/services")
    val register = services.resolve("org.apache.spark.sql.sources.DataSourceRegister")
    assert(!Files.exists(register), s"$register registers a data source")
  }
}
