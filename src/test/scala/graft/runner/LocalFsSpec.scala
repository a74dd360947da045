package graft.runner

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.streaming.StreamRfm
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics

/** [[LocalFs]] against stock Hadoop: the same permission bits, the same link
  * statuses field by field, the metadata log's rename guard, and the
  * session wiring (fork-free file system, one codegen class loader). */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private def init[F <: RawLocalFileSystem](fs: F): F = { fs.initialize(local, new Configuration()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  behavior of "NioRawLocalFileSystem"

  it should "leave the same POSIX bits as stock setPermission" in {
    val dir = Paths.get(SparkSpec.tempDir("fs-perm"))
    for (m <- Seq("0000", "0644", "0700", "0755", "0777", "1777"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = dir.resolve(s"$side-$m-$isDir")
        if (isDir) Files.createDirectory(p) else Files.writeString(p, "x")
        p
      }
      stock.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      withClue(s"mode $m, directory $isDir: ") {
        mode(b) shouldBe mode(a)
        mode(b) shouldBe Integer.parseInt(m, 8)
      }
    }
  }

  it should "match stock getFileLinkStatus and getLinkTarget field by field" in {
    val dir = Paths.get(SparkSpec.tempDir("fs-link"))
    val file = Files.writeString(dir.resolve("file"), "abc")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("rel-link"), Paths.get("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("nowhere"))

    def fields(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: IOException => Left(e.getClass.getName) }
    def target(fs: FileSystem, p: Path): Either[String, Path] =
      try Right(fs.getLinkTarget(p)) catch { case e: IOException => Left(e.getClass.getName) }

    val symlinks = scala.collection.mutable.Set.empty[String]
    for (name <- Seq("file", "dir", "missing", "link", "rel-link", "dangling");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(s"file:${dir.resolve(name)}"))) {
      withClue(s"$p: ") {
        val want = fields(stock, p)
        fields(nio, p) shouldBe want
        target(nio, p) shouldBe target(stock, p)
        if (want.exists(_(3) == true)) symlinks += p.toString
      }
    }
    // as in Hadoop, only the bare link paths are seen as links
    symlinks shouldBe Set("link", "rel-link", "dangling").map(n => dir.resolve(n).toString)
  }

  behavior of "the session's local file system"

  it should "be the NIO classes for both the FileSystem and the FileContext API" in {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(local, conf) shouldBe a[NioLocalFileSystem]
    FileSystem.getLocal(conf).getRaw shouldBe a[NioRawLocalFileSystem]
    FileSystem.get(local, spark.sessionState.newHadoopConf()) shouldBe a[NioLocalFileSystem]
    FileContext.getFileContext(local, conf).getDefaultFileSystem shouldBe a[NioLocalFs]
    FileContext.getFileContext(local, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem shouldBe a[NioLocalFs]
  }

  it should "create files and directories with stock modes through both APIs" in {
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val sides = Seq(
      "stock" -> (FileContext.getFileContext(local, stockConf),
        { val fs = new LocalFileSystem(new RawLocalFileSystem); fs.initialize(local, stockConf); fs }),
      "nio" -> (FileContext.getFileContext(local, spark.sparkContext.hadoopConfiguration),
        FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)))
    val made = sides.map { case (side, (fc, fs)) =>
      val dir = SparkSpec.tempDir(s"fs-create-$side")
      val out = fc.create(new Path(s"$dir/d1/ctx"),
        java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      out.write(1); out.close()
      fs.create(new Path(s"$dir/d2/sys")).close()
      fs.mkdirs(new Path(s"$dir/d3/e"))
      Seq("d1", "d1/ctx", "d1/.ctx.crc", "d2", "d2/sys", "d2/.sys.crc", "d3", "d3/e")
        .map(r => r -> mode(Paths.get(dir, r)))
    }
    made(1) shouldBe made(0)
  }

  it should "keep the metadata log's rename guard: NONE refuses an existing file, OVERWRITE replaces it" in {
    val fc = FileContext.getFileContext(local, spark.sparkContext.hadoopConfiguration)
    val dir = SparkSpec.tempDir("fs-rename")
    def write(name: String, text: String): Path = {
      val p = new Path(s"file:$dir/$name")
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(text.getBytes("UTF-8")); out.close()
      p
    }
    def read(p: Path): String = Files.readString(Paths.get(p.toUri))
    val (a, b) = (write("a", "new"), write("b", "old"))
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    read(b) shouldBe "old"
    fc.util.exists(a) shouldBe true
    fc.rename(a, b, Options.Rename.OVERWRITE)
    read(b) shouldBe "new"
    fc.util.exists(a) shouldBe false
  }

  behavior of "the session's codegen"

  it should "compile nothing when a streaming twin runs a second time from scratch" in {
    import spark.implicits._
    val ev = spark.range(300).select(($"id" % 7).as("user_id"), ($"id" * 1000).as("ts_us"),
      ($"id" % 13).as("cents"))
    val parts = SparkSpec.timeOrderedParts(ev, 2)
    def run(): Seq[String] = SparkSpec.replay(spark, "codegen", parts, restart = false) { df =>
      StreamRfm(df.as[StreamRfm.RfmEvent])
    }
    val first = run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run() shouldBe first
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before shouldBe 0L
  }
}
