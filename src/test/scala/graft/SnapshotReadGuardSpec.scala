package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Store files are read one way: [[graft.operators.Snapshot]] plans every
  * read of a manifest store — serving reads, `rangeStats`' scan side and
  * the rewrites of compaction, range delete and upsert — from the log,
  * through a `ManifestFileIndex`. A `spark.read` there would bring back a
  * second read path: a driver-side status of every file and a
  * schema-inference job. A directory with no manifest is refused, not
  * read. */
class SnapshotReadGuardSpec extends AnyFunSuite {

  test("Snapshot.scala never calls spark.read: reads plan from the log") {
    val src = Paths.get("src/main/scala/graft/operators/Snapshot.scala")
    assert(Files.isRegularFile(src), s"run from the repository root: $src missing")
    val reads = Files.readAllLines(src).asScala.zipWithIndex.collect {
      case (line, i) if line.replaceAll("//.*", "")
          .replaceAll("^\\s*(/?\\*).*", "").contains(".read.") =>
        (i + 1, line.trim)
    }.toList
    assert(reads.isEmpty,
      s"plan store reads through Snapshot.logFrame: ${reads.mkString(", ")}")
  }
}
