package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.io.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem}
import graft.streaming.EventStreams

/** `graft.io`'s local file system against Hadoop's stock one. Every case
  * runs both on the same temp directory and compares what the disk (or
  * the returned status) says; the session resolves `file:` to the
  * `graft.io` classes; and checkpoint and source writes start no child
  * process from Hadoop's `Shell`. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): java.nio.file.Path = Paths.get(freshDir("graft-localfs"))

  private def pair(umask: String = "022"): (FileSystem, FileSystem) = {
    val conf = new Configuration(false)
    conf.set(FsPermission.UMASK_LABEL, umask)
    val ours = new InProcessRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), conf))
    (ours, stock)
  }

  /** All 12 mode bits (setuid, setgid, sticky and the 9 rwx bits). */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("create and mkdirs set the same bits as the shell under umask 022, 077, 002") {
    for (umask <- Seq("022", "077", "002")) {
      val (ours, stock) = pair(umask)
      val base = fresh()
      for ((fs, side) <- Seq(ours -> "ours", stock -> "stock")) {
        fs.mkdirs(new Path(s"$base/$side/a/b"))
        fs.create(new Path(s"$base/$side/a/b/f")).close()
      }
      for (rel <- Seq("a", "a/b", "a/b/f"))
        assert(mode(base.resolve(s"ours/$rel")) == mode(base.resolve(s"stock/$rel")),
          s"umask $umask: $rel")
      assert(mode(base.resolve("ours/a/b/f")) ==
        (Integer.parseInt("666", 8) & ~Integer.parseInt(umask, 8)))
    }
  }

  test("setPermission: 0600 0644 0755 0777 and sticky 1777 set the same bits as the shell") {
    val (ours, stock) = pair()
    val base = fresh()
    for (octal <- Seq("600", "644", "755", "777", "1777")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      for ((fs, side) <- Seq(ours -> "ours", stock -> "stock")) {
        val f = new Path(s"$base/$side-$octal-f")
        val d = new Path(s"$base/$side-$octal-d")
        fs.create(f).close(); fs.mkdirs(d)
        fs.setPermission(f, perm); fs.setPermission(d, perm)
      }
      for (kind <- Seq("f", "d")) {
        val got = mode(base.resolve(s"ours-$octal-$kind"))
        assert(got == mode(base.resolve(s"stock-$octal-$kind")), s"$octal $kind")
        assert(got == Integer.parseInt(octal, 8), s"$octal $kind")
      }
    }
  }

  test("setPermission keeps a directory's setgid bit and clears a file's, as chmod does") {
    val (ours, stock) = pair()
    val base = fresh()
    val parent = base.resolve("g")
    Files.createDirectory(parent)
    assert(new ProcessBuilder("chmod", "2775", parent.toString).start().waitFor() == 0)
    for ((fs, side) <- Seq(ours -> "ours", stock -> "stock")) {
      fs.mkdirs(new Path(s"$parent/$side"))   // inherits setgid, then chmod 0755
      val f = parent.resolve(s"$side-f")
      Files.createFile(f)
      assert(new ProcessBuilder("chmod", "6755", f.toString).start().waitFor() == 0)
      fs.setPermission(new Path(f.toString), new FsPermission(Integer.parseInt("644", 8).toShort))
    }
    assert(mode(parent.resolve("stock")) == Integer.parseInt("2755", 8))
    assert(mode(parent.resolve("ours")) == mode(parent.resolve("stock")))
    assert(mode(parent.resolve("stock-f")) == Integer.parseInt("644", 8))
    assert(mode(parent.resolve("ours-f")) == mode(parent.resolve("stock-f")))
  }

  test("getFileLinkStatus: file, directory, missing, symlink, dangling symlink") {
    val (ours, stock) = pair()
    val base = fresh()
    Files.write(base.resolve("file"), "abc".getBytes)
    Files.createDirectory(base.resolve("dir"))
    Files.createSymbolicLink(base.resolve("link"), base.resolve("file"))
    Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    // a qualified path is never a link to the shell path (it reads the
    // link of the File "file:/..."), so a qualified dangling link is missing
    def outcome(fs: FileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p))
      .map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup))
      .toEither.left.map(_.getClass)
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         qualify <- Seq(false, true)) {
      val p = new Path(s"$base/$name")
      val q = if (qualify) ours.makeQualified(p) else p
      assert(outcome(ours, q) == outcome(stock, q), s"$name qualified=$qualify")
    }
    val link = ours.getFileLinkStatus(new Path(s"$base/link"))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == s"$base/file")
    assert(ours.getFileLinkStatus(new Path(s"$base/dangling")).isSymlink)
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(s"$base/missing")))
  }

  test("FileContext rename without overwrite refuses an existing target; .crc kept") {
    val fc = FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
    val base = fresh()
    val (src, dst) = (new Path(s"$base/src"), new Path(s"$base/dst"))
    for (p <- Seq(src, dst)) {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(p.getName.getBytes); out.close()
    }
    assert(Files.exists(base.resolve(".src.crc")))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(base.resolve("dst"))) == "src")
    assert(Files.exists(base.resolve(".dst.crc")) && !Files.exists(base.resolve(".src.crc")))
  }

  test("FileSystem rename onto an existing file: as the file: FS Spark's jars resolve") {
    val conf = new Configuration()
    val stock = org.apache.hadoop.util.ReflectionUtils.newInstance(
      FileSystem.getFileSystemClass("file", conf), conf)
    val ours = new InProcessLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), conf))
    val base = fresh()
    for ((fs, side) <- Seq(ours -> "ours", stock -> "stock"); name <- Seq("src", "dst")) {
      val out = fs.create(new Path(s"$base/$side-$name")); out.write(name.getBytes); out.close()
    }
    def state(side: String) = Seq("src", "dst").map(n =>
      new String(Files.readAllBytes(base.resolve(s"$side-$n"))))
    assert(ours.rename(new Path(s"$base/ours-src"), new Path(s"$base/ours-dst")) ==
      stock.rename(new Path(s"$base/stock-src"), new Path(s"$base/stock-dst")))
    assert(state("ours") == state("stock"))
  }

  test("the session resolves file: to graft.io (FileSystem cache and FileContext)") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).getClass ==
      classOf[InProcessLocalFileSystem])
    assert(FileSystem.getLocal(hc).getClass == classOf[InProcessLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[InProcessLocalFs])
  }

  test("a stream drain and parquet/JSON round trips start no Shell process") {
    // JFR runs in a JVM of its own: once started in the suite's JVM it
    // stayed initialised and every later spec ran slower (whole suite
    // ~100 s longer, measured)
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.ForkGate",
        fresh().toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() == 0, out.takeRight(20).mkString("\n"))
    val line = out.find(_.startsWith("FORKS ")).getOrElse(fail(out.takeRight(20).mkString("\n")))
    assert(line.startsWith("FORKS shell=0 "), line)
  }
}

/** The fork gate's body: a 2-file `dedupNearStream` drain into a fresh
  * checkpoint and parquet and JSON write-and-read round trips, under a JFR
  * recording of `jdk.ProcessStart` (dumped and read back, so the count
  * does not depend on a stream's flush timing). Prints `FORKS shell=<n>
  * all=<n>`, n counting the events with an `org.apache.hadoop.util.Shell`
  * frame, and the first such commands. Usage: `ForkGate <empty dir>`. */
object ForkGate {
  def main(args: Array[String]): Unit = {
    import jdk.jfr.consumer.RecordingFile
    val spark = GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = java.nio.file.Paths.get(args(0))
    val src = s"$base/src"
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val decided =
      try {
        for (f <- 0 until 2)
          spark.range(f * 100, f * 100 + 100).select($"id".as("doc_id"),
            ($"id" % 17).as("bucket")).coalesce(1)
            .write.mode("append").parquet(src)
        val q = EventStreams.dedupNearStream(spark.readStream.schema("doc_id LONG, bucket LONG")
            .option("maxFilesPerTrigger", 1).parquet(src).as[EventStreams.Doc])
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
        for (fmt <- Seq("parquet", "json")) {
          spark.range(50).select($"id", ($"id" * 2).as("v"))
            .write.format(fmt).save(s"$base/rt.$fmt")
          require(spark.read.format(fmt).load(s"$base/rt.$fmt").agg(sum("v")).head().getLong(0) == 2450)
        }
        q.recentProgress.map(_.numInputRows).sum
      } finally rec.stop()
    require(decided == 200, s"drained $decided rows")
    val dump = base.resolve("rec.jfr")
    rec.dump(dump); rec.close()
    val forks = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    val shell = forks.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    println(s"FORKS shell=${shell.size} all=${forks.size} " +
      shell.take(3).map(_.getString("command")).mkString("; "))
    spark.stop()
  }
}
