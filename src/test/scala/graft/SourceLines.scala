package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The line scanner of the source-guard specs: they read `src/main` as
  * text, so they run from the repository root. */
object SourceLines {
  val mainRoot: Path = Paths.get("src/main/scala")

  /** Code lines (comments stripped) of `src` containing any of
    * `needles`, as (line number, line). */
  def codeLinesWith(src: Path, needles: String*): List[(Int, String)] = {
    require(Files.isRegularFile(src), s"run from the repository root: $src missing")
    Files.readAllLines(src).asScala.zipWithIndex.collect {
      case (line, i) if needles.exists(line.replaceAll("//.*", "")
          .replaceAll("^\\s*(/?\\*).*", "").contains(_)) =>
        (i + 1, line.trim)
    }.toList
  }

  /** Every `.scala` file under `src/main/scala`, sorted. */
  def mainSources(): List[Path] = {
    require(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot missing")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }
}
