package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Local tasks are built in one place: [[org.apache.spark.GraftLocalTask]].
  * A second `TaskContextImpl` elsewhere would run partitions without the
  * block-manager registration, memory manager and clean-up a task needs,
  * which no spec exercises. */
class TaskContextGuardSpec extends AnyFunSuite {

  test("TaskContextImpl is constructed only inside GraftLocalTask.scala") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root: $r missing"))
    val offenders = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftLocalTask.scala")
        .filter(p => "new\\s+(org\\.apache\\.spark\\.)?TaskContextImpl\\b".r
          .findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString).toList
      finally walk.close()
    }.sorted
    assert(offenders.isEmpty,
      s"run partitions locally through org.apache.spark.GraftLocalTask: ${offenders.mkString(", ")}")
  }
}
