package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint: no parquet read in `src/main/scala` may leave its schema to Spark's
  * inference, which launches one Spark job per read. Every read goes through
  * [[Tables.parquet]] (footer schema, no job) or declares `.schema(...)`.
  * A `spark.read[.option(...)...].parquet(` chain with no `.schema(` fails
  * here, unless its file and enclosing `def` are exempt by name below.
  */
class InferringReadSpec extends AnyFunSuite {
  /** (file name, enclosing def) of the reads allowed to infer. */
  private val exempt = Set(
    // the reader itself (its read declares the footer schema it took)
    "Tables.scala" -> "parquet",
    // schema evolution: `mergeSchema` unions every file's footer on purpose
    "AdvancedQueries.scala" -> "schemaEvolutionRead")

  private val inferringRead =
    """\.read((?:\s*\.options?\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\(""".r
  private val defName = """\bdef\s+(\w+)""".r

  test("no inferring parquet read in src/main/scala") {
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
    }
    assert(files.nonEmpty, "src/main/scala not found from the working directory")
    val offenders = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      m <- inferringRead.findAllMatchIn(text)
      owner = defName.findAllMatchIn(text.substring(0, m.start)).map(_.group(1))
        .toSeq.lastOption.getOrElse("")
      if !exempt(f.getFileName.toString -> owner)
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1} (def $owner)"
    assert(offenders.isEmpty,
      "parquet reads that infer their schema (use Tables.parquet or .schema(...)):\n" +
        offenders.mkString("\n"))
  }
}
