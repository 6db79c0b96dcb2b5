package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.{CheckpointDirProbe, SparkException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Dedup, Graph, Materialize}

/** Block loss in the middle of an iterative query: every checkpoint the
  * returned frame's plan reaches is unpersisted, then the frame is
  * collected. With local cuts ([[graft.operators.Materialize]]'s default)
  * that must fail loudly; under a Spark checkpoint directory it must
  * give the uninjected answer, and leave no superseded checkpoint files. */
class MaterializeSpec extends AnyFunSuite with SparkSpec {

  private val operators = Seq("pageRank", "labelPropagation", "bfsHops",
    "dedupClusters (loop path)", "editDistancePairs", "anomalyZScore")

  private def build(name: String): DataFrame = {
    val s = spark
    import s.implicits._
    name match {
      case "pageRank" => // 9 iterations: two periodic cuts, one superseded
        Graph.pageRank((Seq((10L, 1L), (10L, 2L), (10L, 3L)) ++
          Seq(1L, 2L, 3L).map(x => (x, 10L))).toDF("src", "dst"),
          iters = 9, damping = 0.85)
      case "labelPropagation" =>
        Graph.labelPropagation(Graph.symmetricEdges(Seq((1L, 2L), (1L, 3L),
          (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
          .toDF("u", "v")), rounds = 2)
      case "bfsHops" =>
        Graph.bfsHops(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (100L, 102L))
          .toDF("src", "dst"), Seq(1L), maxHops = 10)
      case "dedupClusters (loop path)" =>
        Dedup.dedupClusters((1L until 40L).map(i => (i, i + 1))
          .toDF("doc_id_1", "doc_id_2"), driverMaxEdges = 0L)
      case "editDistancePairs" =>
        Dedup.editDistancePairs(graft.sources.Tables.documents(spark, sf0001), 8, 6)
      case "anomalyZScore" =>
        Analytics.anomalyZScore(((0 until 10).map(h => (h, 10.0)) :+ (10, 1000.0))
          .toDF("hour", "value")
          .select(lit("a").as("event_type"),
            timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
            col("value")), 3.0)
    }
  }

  private def reached(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Unpersist (blocking) every RDD the plan reaches — after checking
    * that at least one of them is a checkpoint, so no case is vacuous. */
  private def loseBlocks(df: DataFrame): DataFrame = {
    assert(reached(df).exists(_.isCheckpointed), "the plan reaches no checkpoint")
    reached(df).foreach(_.unpersist(blocking = true))
    df
  }

  // Row.toString prints doubles in their shortest round-trip form, so
  // equal strings are bit-identical values
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  operators.foreach { name =>
    test(s"$name: lost local checkpoint blocks fail loudly; under a " +
        "checkpoint directory the same loss gives the identical answer") {
      val expected = rows(build(name))
      val e = intercept[SparkException](loseBlocks(build(name)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.toString)
      CheckpointDirProbe.withDir(spark.sparkContext) { dir =>
        val df = build(name)
        val live = reached(df).map(_.id).toSet
        val left = new File(dir).list().filter(_.startsWith("rdd-"))
          .map(_.stripPrefix("rdd-").toInt).toSet
        assert(left.nonEmpty && left.subsetOf(live),
          s"checkpoint files of superseded cuts left behind: ${left -- live}")
        assert(rows(loseBlocks(df)) == expected)
      }
    }
  }

  test("sssp, harmonicCentrality and kCore leave no dead cut persisted") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = Graph.symmetricEdges(pairs.toDF("u", "v"))
    val ops = Seq[(String, () => DataFrame)](
      "sssp" -> (() => Graph.sssp(
        pairs.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "w"),
        Seq(1L).toDF("node"), rounds = 3)),
      "harmonicCentrality" -> (() =>
        Graph.harmonicCentrality(sym, Seq(1L, 4L), maxHops = 3, topK = 3)),
      // a triangle plus a tail: the 2-core is reached well inside the cap
      "kCore" -> (() => Graph.kCore(sym, k = 2, maxRounds = 10)))
    val dead = ops.map { case (name, op) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = op()
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      val live = reached(df).map(_.id).toSet
      assert(live.nonEmpty, s"$name: the returned plan reaches no cut")
      df.collect()
      Materialize.release(df)
      name -> (left -- live)
    }.filter(_._2.nonEmpty)
    assert(dead.isEmpty, s"cuts no returned plan reaches: ${dead.mkString(", ")}")
  }

  test("localCheckpoint( and .checkpoint( appear in src/main code only " +
      "inside Materialize.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val cut = "localCheckpoint\\(|\\.checkpoint\\(".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Materialize.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if cut.findFirstIn(line.replaceAll("//.*", "")
            .replaceAll("^\\s*(/?\\*).*", "")).isDefined => s"$p:${i + 1}"
        }).toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"cut lineage through graft.operators.Materialize: ${offenders.mkString(", ")}")
  }
}
