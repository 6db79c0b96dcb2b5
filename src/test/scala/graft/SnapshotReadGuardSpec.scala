package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Store files are read one way: [[graft.operators.Snapshot]] plans every
  * read of a manifest store — serving reads, `rangeStats`' scan side and
  * the rewrites of compaction, range delete and upsert — from the log,
  * through a `ManifestFileIndex`. A `spark.read` there would bring back a
  * second read path: a driver-side status of every file and a
  * schema-inference job. Only a store with no manifest has no log to plan
  * from. */
class SnapshotReadGuardSpec extends AnyFunSuite {

  test("Snapshot.scala calls spark.read once, for manifest-free stores") {
    val src = Paths.get("src/main/scala/graft/operators/Snapshot.scala")
    assert(Files.isRegularFile(src), s"run from the repository root: $src missing")
    val reads = Files.readAllLines(src).asScala.zipWithIndex.collect {
      case (line, i) if line.replaceAll("//.*", "")
          .replaceAll("^\\s*(/?\\*).*", "").contains(".read.") =>
        (i + 1, line.trim)
    }.toList
    assert(reads.size == 1 && reads.head._2.contains("gen < 0"),
      s"plan store reads through Snapshot.logFrame: ${reads.mkString(", ")}")
  }
}
