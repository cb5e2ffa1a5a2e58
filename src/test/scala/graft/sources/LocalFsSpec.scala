package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.SparkSpec

/** The fork-free local file system against stock Hadoop (`LocalFileSystem`
  * for the FileSystem API, `LocalFs` for FileContext): same statuses,
  * permission bits, `.crc` sidecars and rename semantics, and a checkpoint
  * written under one restarts under the other.
  */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")
  private val stockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, fork-free) for the FileSystem API, uncached. */
  private def fileSystems(c: Configuration): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    val ours = new ForkFreeLocalFileSystem()
    stock.initialize(root, c)
    ours.initialize(root, c)
    (stock, ours)
  }

  /** (stock, fork-free) for the FileContext API. */
  private def fileContexts(c: Configuration): (FileContext, FileContext) = {
    val oursConf = new Configuration(c)
    oursConf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    val (stock, ours) = (FileContext.getFileContext(root, c), FileContext.getFileContext(root, oursConf))
    assert(stock.getDefaultFileSystem.getClass.getName === stockLocalFs)
    assert(ours.getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
    (stock, ours)
  }

  private def hadoopPath(p: JPath): Path = new Path(p.toString)

  private def permission(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: JPath): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  /** Every entry under `base`: relative path -> (mode bits, file bytes). */
  private def tree(base: JPath): Map[String, (String, Seq[Byte])] = {
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (mode(p), if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }.toMap
    finally walk.close()
  }

  private def signature(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime, s.getPermission,
      if (s.isSymlink) Some(s.getSymlink) else None)

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.writeString(dir.resolve("f"), "hello")
    val paths = Seq(file, Files.createDirectory(dir.resolve("d")),
      Files.createSymbolicLink(dir.resolve("l"), file)).map(hadoopPath)
    val missing = hadoopPath(dir.resolve("missing"))
    val (stockFs, ourFs) = fileSystems(conf())
    val (stockFc, ourFc) = fileContexts(conf())
    val apis = Seq[(String, Path => FileStatus, Path => FileStatus)](
      ("FileSystem", stockFs.getFileLinkStatus, ourFs.getFileLinkStatus),
      ("FileContext", stockFc.getFileLinkStatus, ourFc.getFileLinkStatus))
    for ((api, stock, ours) <- apis) {
      for (p <- paths) assert(signature(ours(p)) === signature(stock(p)), s"$api $p")
      assert(ours(paths(2)).isSymlink, s"$api sees the symlink")
      intercept[FileNotFoundException](stock(missing))
      intercept[FileNotFoundException](ours(missing))
    }
  }

  test("create and mkdir under a non-default umask: same permission bits and .crc sidecars") {
    val c = conf(umask = "027")
    val (stockFs, ourFs) = fileSystems(c)
    val (stockFc, ourFc) = fileContexts(c)
    val bytes = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    def viaFileSystem(fs: FileSystem): Map[String, (String, Seq[Byte])] = {
      val base = Files.createTempDirectory("localfs_fs")
      fs.mkdirs(new Path(s"$base/a/b"))
      val out = fs.create(new Path(s"$base/a/b/f"))
      try out.write(bytes) finally out.close()
      fs.setPermission(new Path(s"$base/a/b/f"), permission("604"))
      // the stock fallbacks: a sticky bit to set, a setgid bit that `chmod` keeps
      fs.mkdirs(new Path(s"$base/sticky"))
      fs.setPermission(new Path(s"$base/sticky"), permission("1777"))
      Files.setAttribute(Files.createDirectory(base.resolve("setgid")), "unix:mode",
        Integer.parseInt("2770", 8))
      fs.setPermission(new Path(s"$base/setgid"), permission("755"))
      tree(base)
    }
    def viaFileContext(fc: FileContext): Map[String, (String, Seq[Byte])] = {
      val base = Files.createTempDirectory("localfs_fc")
      fc.mkdir(new Path(s"$base/a/b"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(s"$base/a/b/f"), EnumSet.of(CreateFlag.CREATE))
      try out.write(bytes) finally out.close()
      tree(base)
    }
    val fsTree = viaFileSystem(ourFs)
    assert(fsTree === viaFileSystem(stockFs))
    assert(fsTree("a/b/.f.crc")._2.nonEmpty)
    assert(fsTree("sticky")._1 === "1777")
    assert(fsTree("setgid")._1 === "2755")
    assert(fsTree("a/b/f")._1 === "604")
    val fcTree = viaFileContext(ourFc)
    assert(fcTree === viaFileContext(stockFc))
    assert(fcTree("a/b/f") === ("640", bytes.toSeq))
    assert(fcTree("a/b")._1 === "750")
    assert(fcTree("a/b/.f.crc")._1 === "640")
  }

  test("FileContext rename: NONE refuses an existing target, OVERWRITE replaces it") {
    val (stockFc, ourFc) = fileContexts(conf())
    def scenario(fc: FileContext) = {
      val base = Files.createTempDirectory("localfs_rename")
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(s"$base/$name"), EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      write("src", "new")
      write("dst", "old")
      val refused = intercept[FileAlreadyExistsException] {
        fc.rename(new Path(s"$base/src"), new Path(s"$base/dst"), Options.Rename.NONE)
      }
      val afterNone = tree(base)
      fc.rename(new Path(s"$base/src"), new Path(s"$base/dst"), Options.Rename.OVERWRITE)
      (refused.getClass.getName, afterNone, tree(base))
    }
    val ours = scenario(ourFc)
    assert(ours === scenario(stockFc))
    assert(ours._2.keySet === Set("src", ".src.crc", "dst", ".dst.crc"))
    assert(ours._3.keySet === Set("dst", ".dst.crc"))
    assert(new String(ours._3("dst")._2.toArray, "UTF-8") === "new")
  }

  test("the test session serves file: from the fork-free classes") {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    assert(FileSystem.get(root, hadoopConf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
  }

  test("a stateful query checkpointed under stock LocalFs restarts under the fork-free one") {
    val src = Files.createTempDirectory("localfs_src")
    val ckpt = Files.createTempDirectory("localfs_ckpt").toString
    val stockSession = spark.newSession()
    stockSession.conf.set("fs.AbstractFileSystem.file.impl", stockLocalFs)
    assert(FileContext.getFileContext(root,
      stockSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass.getName === stockLocalFs)

    def addFile(n: Int): Unit =
      Files.writeString(src.resolve(s"part-$n.json"),
        (0 until 50).map(i => s"""{"k":${(i * 7 + n) % 5},"v":${i * n}}""").mkString("\n"))
    var last = Seq.empty[Row]
    def run(session: SparkSession): Unit = {
      val q = session.readStream.schema("k INT, v INT").option("maxFilesPerTrigger", "1")
        .json(src.toString).groupBy("k").agg("v" -> "sum", "*" -> "count")
        .writeStream.outputMode("complete").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Row], _: Long) => last = batch.collect().toSeq }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    (1 to 2).foreach(addFile)
    run(stockSession)
    (3 to 4).foreach(addFile)
    run(spark)

    val expected = spark.read.schema("k INT, v INT").json(src.toString)
      .groupBy("k").agg("v" -> "sum", "*" -> "count").collect().toSeq
    assert(last.sortBy(_.getInt(0)) === expected.sortBy(_.getInt(0)))
    assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", "3")))
  }
}
