package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place: [[GraftSession]]. A second
  * `SparkSession.builder()` in the library would build a session without
  * the extensions and confs the library ships, which no spec exercises. */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() appears in src/main only inside GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder()"))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local/localBuilder/configure: ${offenders.mkString(", ")}")
  }
}
