package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: the registry queries build derived artifacts and fixtures once
  * through `queries.Artifacts`, keyed on the inputs' content. A
  * `ConcurrentHashMap` field in a `*Queries.scala` file is a second,
  * per-JVM memo keyed on something else (the scale dir's name), which
  * keeps serving an old build after an input is rewritten. Only the
  * fields named below are allowed.
  */
class MemoMapSpec extends AnyFunSuite {
  /** (file name, field) of the maps allowed to stay. */
  private val exempt = Set(
    // memoizes a pipeline run (a Medallion handle), not a file
    "MedallionQueries.scala" -> "shared",
    // q76's fixture must sit at the Landed path its oracle reads
    "MedallionQueries.scala" -> "q76Written")

  private val mapField = """\bva[lr]\s+(\w+)[^\n]*\bConcurrentHashMap\b""".r

  test("no ConcurrentHashMap field in graft/queries/*Queries.scala") {
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/queries"))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith("Queries.scala")).toVector
      finally s.close()
    }
    assert(files.nonEmpty, "src/main/scala/graft/queries not found from the working directory")
    val offenders = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      m <- mapField.findAllMatchIn(text)
      if !exempt(f.getFileName.toString -> m.group(1))
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1} (val ${m.group(1)})"
    assert(offenders.isEmpty,
      "memo maps in front of Artifacts.cached (call it directly):\n" + offenders.mkString("\n"))
  }
}
