package graft

import org.scalatest.funsuite.AnyFunSuite

/** Store files are read one way and written one way.
  *
  * Reads: [[graft.operators.Snapshot]] plans every read of a manifest
  * store — serving reads, `rangeStats`' scan side and the rewrites of
  * compaction, range delete and upsert — from the log, through a
  * `ManifestFileIndex`. A `spark.read` there would bring back a second
  * read path: a driver-side status of every file and a schema-inference
  * job. A directory with no manifest is refused, not read.
  *
  * Writes: every store file — an append's or a rewrite's — is written by
  * `Ingest.writeStore` through `Snapshot.stage`. A `.write.` or
  * `.parquet(` in `Snapshot.scala` would bring back a second writer with
  * its own file format and staging. */
class SnapshotReadGuardSpec extends AnyFunSuite {

  /** Code lines (comments stripped) of Snapshot.scala containing any of
    * `needles`, as (line number, line). */
  private def codeLinesWith(needles: String*): List[(Int, String)] =
    SourceLines.codeLinesWith(
      SourceLines.mainRoot.resolve("graft/operators/Snapshot.scala"), needles: _*)

  test("Snapshot.scala never calls spark.read: reads plan from the log") {
    val reads = codeLinesWith(".read.")
    assert(reads.isEmpty,
      s"plan store reads through Snapshot.logFrame: ${reads.mkString(", ")}")
  }

  test("Snapshot.scala writes no file itself: Ingest.writeStore is the one writer") {
    val writes = codeLinesWith(".write.", ".parquet(")
    assert(writes.isEmpty,
      s"stage store writes through Snapshot.stage: ${writes.mkString(", ")}")
  }
}
