package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftLocalFileSystem, GraftLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file:` binding: the builder's sessions resolve it,
  * every permission bit and error it produces matches stock Hadoop's
  * `LocalFileSystem`/`LocalFs`, and a streaming replay starts none of
  * the permission or link-probe subprocesses stock starts per file. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: Option[String]): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** Fresh, uncached instances, so each picks up its conf's umask. */
  private def fileSystems(c: Configuration): (FileSystem, FileSystem) = {
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(root, c)
    val graft = new GraftLocalFileSystem()
    graft.initialize(root, c)
    (stock, graft)
  }

  private def fileContexts(c: Configuration): (FileContext, FileContext) = {
    val stockConf = new Configuration(c)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    (FileContext.getFileContext(root, stockConf), FileContext.getFileContext(root, c))
  }

  private def perms(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fc: FileContext, p: Path): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
  }

  test("the builder's session binds file:/// to graft's classes") {
    val c = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, c).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(root, c).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
  }

  for (umask <- Seq(None, Some("077"))) {
    val label = umask.fold("the default umask")(u => s"umask $u")

    test(s"files and nested dirs get stock permissions under $label") {
      val (stock, graft) = fileSystems(conf(umask))
      def layout(fs: FileSystem, name: String): Map[String, String] = {
        val base = Files.createTempDirectory(s"localfs-$name")
        val out = fs.create(new Path(base.resolve("f.bin").toString))
        try out.write(1) finally out.close()
        val dirPerm = FsPermission.getDirDefault.applyUMask(
          FsPermission.getUMask(fs.getConf))
        assert(fs.mkdirs(new Path(base.resolve("a/b/c").toString), dirPerm))
        assert(fs.mkdirs(new Path(base.resolve("x/y").toString)))
        Seq("f.bin", ".f.bin.crc", "a", "a/b", "a/b/c", "x", "x/y")
          .map(rel => rel -> perms(base.resolve(rel))).toMap
      }
      val want = layout(stock, "stock")
      assert(layout(graft, "graft") === want)
      if (umask.contains("077")) assert(want("f.bin") === "rw-------")
    }

    test(s"FileContext create, mkdir and rename give stock permissions under $label") {
      val (stock, graft) = fileContexts(conf(umask))
      def layout(fc: FileContext, name: String): Map[String, String] = {
        val base = Files.createTempDirectory(s"localfc-$name")
        fc.mkdir(new Path(base.resolve("d/e").toString), FsPermission.getDirDefault, true)
        val tmp = new Path(base.resolve("d/e/.tmp").toString)
        write(fc, tmp)
        fc.rename(tmp, new Path(base.resolve("d/e/0").toString), Options.Rename.NONE)
        assert(!Files.exists(base.resolve("d/e/.tmp")))
        Seq("d", "d/e", "d/e/0", "d/e/.0.crc")
          .map(rel => rel -> perms(base.resolve(rel))).toMap
      }
      val want = layout(stock, "stock")
      assert(layout(graft, "graft") === want)
    }
  }

  test("a FileContext rename without overwrite onto an existing file still fails") {
    val (_, fc) = fileContexts(conf(None))
    val base = Files.createTempDirectory("localfc-rename")
    val (src, dst) = (new Path(base.resolve("src").toString), new Path(base.resolve("dst").toString))
    write(fc, src)
    write(fc, dst)
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(Files.exists(base.resolve("src")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(base.resolve("src")))
  }

  test("a FileSystem rename onto an existing file fails like the class it replaces") {
    // without the binding, file: resolves to Hive's ProxyLocalFileSystem
    val c = conf(None)
    val proxy = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem()
    proxy.initialize(root, c)
    val (_, graft) = fileSystems(c)
    for (fs <- Seq(proxy, graft)) {
      val base = Files.createTempDirectory("localfs-rename")
      Files.writeString(base.resolve("src"), "new")
      Files.writeString(base.resolve("dst"), "old")
      val (src, dst) = (new Path(base.resolve("src").toString), new Path(base.resolve("dst").toString))
      assert(!fs.rename(src, dst), fs.getClass.getName)
      assert(Files.readString(base.resolve("dst")) === "old")
      assert(fs.rename(src, new Path(base.resolve("moved").toString)))
      assert(Files.readString(base.resolve("moved")) === "new")
    }
  }

  test("getFileLinkStatus still reports symlinks and missing paths like stock") {
    val (stock, graft) = fileSystems(conf(None))
    val base = Files.createTempDirectory("localfs-link")
    val target = Files.writeString(base.resolve("target"), "x")
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    for (fs <- Seq(stock, graft)) {
      val st = fs.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink, fs.getClass.getName)
      assert(st.getSymlink.toUri.getPath === target.toString)
      assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
      intercept[FileNotFoundException](
        fs.getFileLinkStatus(new Path(base.resolve("missing").toString)))
    }
    val (stockFc, graftFc) = fileContexts(conf(None))
    for (fc <- Seq(stockFc, graftFc))
      intercept[FileNotFoundException](
        fc.getFileLinkStatus(new Path(base.resolve("missing").toString)))
    val qualified = new Path(link.toUri)
    assert(graftFc.getFileLinkStatus(qualified).isSymlink ===
      stockFc.getFileLinkStatus(qualified).isSymlink)
  }

  test("a dated-sink replay starts no chmod, readlink, stat or ls process") {
    import spark.implicits._
    val stage = Files.createTempDirectory("localfs-events").toString
    (0 until 200).map(i => (i.toLong, java.sql.Timestamp.valueOf(
      f"2024-01-${i % 5 + 1}%02d 10:00:00"))).toDF("id", "ts")
      .repartition(4).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    val zone = Files.createTempDirectory("localfs-zone").resolve("land").toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try graft.streaming.StreamOps.runToDated(spark,
      spark.readStream.schema(schema).parquet(stage), "ts", zone)
    finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(dump)
      // Spark may remove a session's artifact directory with `rm -rf`
      // inside the window, so only the file system's own probes count
      val forked = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command"))
        .filter(cmd => Set("chmod", "readlink", "stat", "ls")(
          Paths.get(cmd.trim.split("\\s+").head).getFileName.toString))
      assert(forked.isEmpty, forked.take(5).mkString("; "))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
    assert(graft.sources.DatedWriter.readDated(spark, zone, schema).count() === 200)
  }
}
