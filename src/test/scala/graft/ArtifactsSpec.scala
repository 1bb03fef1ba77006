package graft

import graft.queries.Artifacts
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Contract tests for the cross-session artifact cache: content-keyed
  * reuse, fingerprint sensitivity to input changes, tensor round-trip.
  */
class ArtifactsSpec extends SparkSpec {

  private def tempInput(content: String): String = {
    val d = Files.createTempDirectory("graft-artifacts-spec")
    Files.writeString(d.resolve("data.parquet"), content)
    d.toString
  }

  test("fingerprint is stable for identical inputs and moves when a file changes") {
    val in = tempInput("hello")
    val fp1 = Artifacts.fingerprint(Seq(in))
    val fp2 = Artifacts.fingerprint(Seq(in))
    assert(fp1 == fp2)
    // a size change must move the fingerprint (mtime alone is granular
    // to the fs clock, so don't rely on it in-test)
    Files.writeString(Paths.get(in, "data.parquet"), "hello world")
    val fp3 = Artifacts.fingerprint(Seq(in))
    assert(fp1 != fp3)
    // input order must not matter
    val in2 = tempInput("other")
    assert(Artifacts.fingerprint(Seq(in, in2)) == Artifacts.fingerprint(Seq(in2, in)))
  }

  test("fingerprint moves on a same-size, same-mtime parquet rewrite") {
    def onePartFile(v: Long): Path = {
      val out = tmpDir("graft-artifacts-pq")
      spark.range(1).selectExpr(s"CAST($v AS BIGINT) AS v").coalesce(1)
        .write.option("compression", "uncompressed").parquet(s"$out/t")
      val parts = Files.list(Paths.get(out, "t"))
      try parts.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally parts.close()
    }
    val (one, two) = (onePartFile(1L), onePartFile(2L))
    assert(Files.size(one) == Files.size(two))
    val dir = Files.createTempDirectory("graft-artifacts-spec")
    val data = dir.resolve("data.parquet")
    Files.copy(one, data)
    val mtime = Files.getLastModifiedTime(data)
    // a scale dir's table (file input) and a directory of part files
    val inputs = Seq(Seq(data.toString), Seq(dir.toString))
    val before = inputs.map(Artifacts.fingerprint)
    Files.copy(two, data, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(data, mtime)
    assert(Files.size(data) == Files.size(one))
    assert(Files.getLastModifiedTime(data) == mtime)
    inputs.zip(before).foreach { case (in, fp) =>
      assert(Artifacts.fingerprint(in) != fp, s"fingerprint of $in did not move")
    }
  }

  test("cached builds once and replays from disk on the second call") {
    val in = tempInput(s"build-once-${System.nanoTime()}")
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "payload"), "x")
      Files.createFile(Paths.get(p, "_SUCCESS"))
    }
    val p1 = Artifacts.cached("spec-artifact", "v1", Seq(in))(build)
    val p2 = Artifacts.cached("spec-artifact", "v1", Seq(in))(build)
    assert(p1 == p2)
    assert(builds == 1, "second call must be served from the cache")
    assert(Files.exists(Paths.get(p1, "payload")))
    // a different version tag is a different artifact
    Artifacts.cached("spec-artifact", "v2", Seq(in))(build)
    assert(builds == 2)
  }

  test("cached refuses a builder that leaves no _SUCCESS") {
    val in = tempInput(s"no-success-${System.nanoTime()}")
    intercept[IllegalArgumentException] {
      Artifacts.cached("spec-bad", "v1", Seq(in)) { p =>
        Files.createDirectories(Paths.get(p))
      }
    }
  }

  test("tensor3 round-trips exactly and caches across calls") {
    val in = tempInput(s"tensor-${System.nanoTime()}")
    val t = Array(
      Array(Array(1.5f, -2.25f), Array(0.0f, Float.MinPositiveValue)),
      Array(Array(3.0f, 4.0f), Array(-5.5f, 6.125f)))
    var builds = 0
    def build() = { builds += 1; t }
    val r1 = Artifacts.cachedTensor3("spec-tensor", "v1", Seq(in))(build())
    val r2 = Artifacts.cachedTensor3("spec-tensor", "v1", Seq(in))(build())
    assert(builds == 1)
    assert(r1.map(_.map(_.toSeq).toSeq).toSeq == t.map(_.map(_.toSeq).toSeq).toSeq)
    assert(r2.map(_.map(_.toSeq).toSeq).toSeq == t.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
