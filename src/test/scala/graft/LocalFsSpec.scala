package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sinks.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem}
import graft.streaming.IngestPipeline

/** `file:` paths go through [[InProcessLocalFileSystem]] (and
  * [[InProcessLocalFs]] for `FileContext`), which sets permissions and
  * looks up links without starting a process, and leaves on disk what
  * stock Hadoop leaves.
  */
class LocalFsSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def fresh(): (RawLocalFileSystem, RawLocalFileSystem) = {
    def init(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), new Configuration()); fs }
    (init(new RawLocalFileSystem), init(new InProcessRawLocalFileSystem))
  }

  /** Backlog `rows` drained by one AvailableNow query into `root`. */
  private def drain(rows: Seq[(String, String)], root: String, ckpt: String): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    input.addData(rows)
    IngestPipeline.writer(input.toDF().toDF("topic", "value"), root, ckpt, availableNow = true)
      .start().awaitTermination()
  }

  private def octal(mode: String): Int = Integer.parseInt(mode, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("1777")

  private def stack(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  test("the session resolves file: to the in-process local file systems") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass === classOf[InProcessLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[InProcessRawLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ===
      classOf[InProcessLocalFs])
  }

  test("routeAndWrite and a checkpointed drain start no process from the Hadoop file system layer") {
    val dir = Files.createTempDirectory("graft_lake_forks_")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      IngestPipeline.routeAndWrite(StreamingIngestSpec.dirtyCases.toDF("topic", "value"),
        dir.resolve("batch").toString)
      drain(StreamingIngestSpec.dirtyCases, dir.resolve("lake").toString, dir.resolve("ckpt").toString)
      // one launch from this spec, so an empty recording cannot pass
      new ProcessBuilder("true").start().waitFor()
    } finally recording.stop()
    val file = Files.createTempFile("graft_forks_", ".jfr")
    recording.dump(file)
    recording.close()
    val stacks = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(stack)
    Files.delete(file)

    assert(stacks.exists(_.exists(_.startsWith(classOf[LocalFsSpec].getName))), stacks)
    val fromFs = stacks.filter(_.exists(_.startsWith("org.apache.hadoop.fs.")))
    assert(fromFs.isEmpty, s"${fromFs.size} launches, first: ${fromFs.headOption}")
    assert(spark.read.parquet(s"$dir/lake/vision").count() ===
      spark.read.parquet(s"$dir/batch/vision").count())
  }

  test("file and directory modes are stock Hadoop's, sticky bit included") {
    val (stock, ours) = fresh()
    val dir = Files.createTempDirectory("graft_fs_modes_")
    def modes(fs: RawLocalFileSystem, tag: String): Seq[(Set[String], Int)] = {
      def seen(p: Path) = {
        val local = Paths.get(p.toUri.getPath)
        (Files.getPosixFilePermissions(local).asScala.map(_.toString).toSet, mode(local))
      }
      val files = Seq("644", "600", "750").map { m =>
        val p = new Path(s"$dir/$tag/f$m")
        fs.create(p, new FsPermission(octal(m).toShort), false, 4096, 1.toShort, 1L << 25, null).close()
        seen(p)
      }
      val sub = new Path(s"$dir/$tag/d/e")
      assert(fs.mkdirs(sub, new FsPermission(octal("755").toShort)))
      val sticky = new Path(s"$dir/$tag/sticky")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(octal("1777").toShort))
      files ++ Seq(sub.getParent, sub, sticky).map(seen)
    }
    val got = modes(ours, "ours")
    assert(got === modes(stock, "stock"))
    assert(got.map(_._2) === Seq("644", "600", "750", "755", "755", "1777").map(octal))
  }

  test("getFileLinkStatus matches stock Hadoop on a link, a file and a missing path") {
    val (stock, ours) = fresh()
    val dir = Files.createTempDirectory("graft_fs_links_")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    def seen(s: FileStatus) =
      (s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.isFile, s.getLen, s.getPath)

    val linked = ours.getFileLinkStatus(new Path(link.toString))
    assert(linked.isSymlink)
    assert(seen(linked) === seen(stock.getFileLinkStatus(new Path(link.toString))))
    Seq(new Path(target.toString), new Path(target.toUri)).foreach { p =>
      assert(seen(ours.getFileLinkStatus(p)) === seen(ours.getFileStatus(p)))
      assert(seen(ours.getFileLinkStatus(p)) === seen(stock.getFileLinkStatus(p)))
    }
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("a drain still writes a .crc beside every lake data file, 0644 files in 0755 dirs") {
    val dir = Files.createTempDirectory("graft_fs_crc_")
    drain(StreamingIngestSpec.dirtyCases, s"$dir/lake", s"$dir/ckpt")
    val all = scala.util.Using.resource(Files.walk(dir.resolve("lake")))(_.iterator().asScala.toSeq)
    val data = all.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.map(_.getParent.getFileName.toString).exists(_.startsWith("month=")))
    data.foreach(p => assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p))
    assert(data.map(mode).distinct === Seq(octal("644")))
    assert(all.filter(Files.isDirectory(_)).map(mode).distinct === Seq(octal("755")))
  }
}
