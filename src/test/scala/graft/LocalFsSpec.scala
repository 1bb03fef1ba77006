package graft

import graft.pipeline.Medallion
import graft.queries.Artifacts
import graft.schema.MonzoSchemas
import graft.sources.MonzoSource
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.lit

/** The fork-free `file:` filesystem ([[NioLocalFileSystem]],
  * [[NioLocalFs]]): what a session resolves `file:` to, that the engine's
  * write paths start no `chmod`/`readlink` process, and that modes, link
  * statuses and `.crc` sidecars equal the stock local filesystem's.
  */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private val FileRoot = URI.create("file:///")

  /** The stock raw filesystem, built directly so the JVM's cached
    * `file:` filesystem is left alone. */
  private def stockRaw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(FileRoot, new Configuration())
    fs
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: resolves to the fork-free FileSystem and AbstractFileSystem") {
    val fs = FileSystem.get(FileRoot, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(FileRoot, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a q56 drain, a medallion run and an artifact build start no chmod/readlink/stat/ls") {
    import spark.implicits._
    val tx = """{"id":"tx_1","description":"d","amount":-100,"currency":"GBP",
      |"created":"2025-01-01T00:00:00Z","category":"general","notes":"","is_load":false,
      |"local_amount":-100,"local_currency":"GBP",
      |"counterparty":{"name":"Alex","account_number":11111111,"sort_code":112233},
      |"merchant":{"id":"merch_1","name":"Shop A","category":"shops",
      |"online":false,"atm":false}}""".stripMargin.replaceAll("\n", "")
    val stamp = lit("2025-02-01T00:00:00Z").cast("timestamp")
    val events = TestUtil.stageEventsDir(spark, Seq(
      (1L, 7L, "click", "2024-01-01 10:00:00"), (2L, 7L, "click", "2024-01-01 10:05:00"),
      (3L, 8L, "view", "2024-01-01 10:06:00")).toDF("event_id", "user_id", "event_type", "ts"))
    val input = tmpDir("graft-localfs-artifact")
    Files.writeString(Paths.get(input, "data"), s"localfs-${System.nanoTime()}")
    val (_, commands) = ProbeQueryJobs.processStarts {
      assert(Registry.byName("q56_stream_dedup").run(spark, events).count() === 2)
      Medallion(tmpDir("graft-localfs-medallion")).runAtomicBatches(spark,
        Seq(MonzoSource.flattenTransactions(jsonDf(MonzoSchemas.apiTransaction, tx)) -> stamp),
        Seq((100L, "GBP")).toDF("balance", "currency"), Seq(("pot_1", 50L)).toDF("pot_id", "balance"),
        stamp)
      Artifacts.cached("localfs-spec", "v1", Seq(input))(p => spark.range(10).write.parquet(p))
    }
    val forked = commands.filter(c => Set("chmod", "readlink", "stat", "ls")
      .contains(Paths.get(c.takeWhile(_ != ' ')).getFileName.toString))
    assert(forked.isEmpty, s"${forked.size} of ${commands.size} process starts: ${forked.take(5)}")
  }

  test("new files and directories get the stock modes") {
    val root = tmpDir("graft-localfs-modes")
    val ours = FileSystem.get(FileRoot, conf)
    val stock = stockRaw
    val oursFc = FileContext.getFileContext(FileRoot, conf)
    val stockFc = FileContext.getFileContext(FileRoot, new Configuration())
    assert(!stockFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    def both(name: String)(make: (String, Boolean) => Unit): Unit = {
      val (o, s) = (s"$root/ours-$name", s"$root/stock-$name")
      make(o, true)
      make(s, false)
      assert(mode(o) === mode(s), name)
    }
    both("file")((p, o) => (if (o) ours else stock).create(new Path(p)).close())
    both("dir")((p, o) => (if (o) ours else stock).mkdirs(new Path(p)))
    both("nested/dir")((p, o) => (if (o) ours else stock).mkdirs(new Path(p), new FsPermission("700")))
    both("file-640")((p, o) => (if (o) ours else stock)
      .create(new Path(p), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close())
    both("fc-file")((p, o) => (if (o) oursFc else stockFc).create(new Path(p),
      java.util.EnumSet.of(CreateFlag.CREATE), org.apache.hadoop.fs.Options.CreateOpts.createParent()).close())
    both("fc-dir")((p, o) => (if (o) oursFc else stockFc).mkdir(new Path(p), FsPermission.getDirDefault, true))
    Seq("751", "1777", "000").foreach { m =>
      both(s"chmod-$m") { (p, o) =>
        Files.createDirectory(Paths.get(p))
        (if (o) ours else stock).setPermission(new Path(p), new FsPermission(m))
      }
    }
  }

  test("getFileLinkStatus of a symlink, a dangling link and a plain file equals the stock one") {
    val root = Paths.get(tmpDir("graft-localfs-links"))
    val target = Files.writeString(root.resolve("target"), "payload")
    Files.createSymbolicLink(root.resolve("link"), target)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    val ours = FileSystem.get(FileRoot, conf).asInstanceOf[LocalFileSystem].getRaw
    val stock = stockRaw
    // the status fields, or the exception's class (the stock call finds no
    // link behind a `file:`-qualified path, so a dangling one throws)
    def linkStatus(fs: FileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).toEither
      .map(s => (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.isDirectory, s.getModificationTime))
      .left.map(_.getClass)
    for (name <- Seq("link", "dangling", "target"); qualify <- Seq(false, true)) {
      val p = if (qualify) new Path(root.resolve(name).toUri) else new Path(root.resolve(name).toString)
      assert(linkStatus(ours, p) === linkStatus(stock, p), s"$name $p")
    }
    assert(ours.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
  }

  test(".crc sidecars are written and a corrupted file fails its read") {
    val root = tmpDir("graft-localfs-crc")
    val fs = FileSystem.get(FileRoot, conf)
    val fc = FileContext.getFileContext(FileRoot, conf)
    val payload = ("checksummed " * 64).getBytes("UTF-8")
    val viaFs = new Path(s"$root/via-fs")
    val out = fs.create(viaFs)
    try out.write(payload) finally out.close()
    val viaFc = new Path(s"$root/via-fc")
    val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    try out2.write(payload) finally out2.close()
    Seq(viaFs, viaFc).foreach { p =>
      assert(Files.exists(Paths.get(s"$root/.${p.getName}.crc")), p)
      def read() = {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      }
      assert(read() sameElements payload)
      val file = Paths.get(p.toUri.getPath)
      val bytes = Files.readAllBytes(file)
      bytes(7) = (bytes(7) ^ 0x20).toByte
      Files.write(file, bytes)
      intercept[ChecksumException](read())
    }
  }
}
