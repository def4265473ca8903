package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.Streaming
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file:` filesystem (`sources/LocalFs.scala`) against
  * stock Hadoop on the same kind of tree, and the witness that the
  * notification service starts no process on it. */
class LocalFsSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(fileUri, new Configuration())
    fs
  }

  /** Every entry under `root`, `.crc` files included, as its relative
    * path, kind and `rwx` bits. */
  private def tree(root: String): Map[String, String] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r).map { p =>
      r.relativize(p).toString -> ((if (Files.isDirectory(p)) "d" else "f") +
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p)))
    }.toMap
  }

  test("the session's file: FileSystem and AbstractFileSystem are the fork-free ones") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path(tmpDir("lfs_use")).getFileSystem(conf).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, conf).getClass == classOf[ForkFreeLocalFs])
    // the JVM-wide cache hands the same instance to code that builds its
    // own Configuration, as executor-side writers do
    assert(FileSystem.get(fileUri, new Configuration()).getClass ==
      classOf[ForkFreeLocalFileSystem])
  }

  test("created files and directories get stock Hadoop's permissions and .crc files") {
    def build(fs: FileSystem, root: String): Unit = {
      val out = fs.create(new Path(s"$root/dir a/file.txt"))
      out.writeBytes("hello")
      out.close()
      fs.mkdirs(new Path(s"$root/made/deep"))
      fs.mkdirs(new Path(s"$root/masked"), new FsPermission("750"))
      fs.create(new Path(s"$root/masked/f"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.setPermission(new Path(s"$root/made"), new FsPermission("701"))
      fs.setPermission(new Path(s"$root/dir a/file.txt"), new FsPermission("600"))
      // a sticky bit goes to the stock path
      fs.setPermission(new Path(s"$root/made/deep"), new FsPermission("1777"))
    }
    val stockRoot = tmpDir("lfs_stock")
    val oursRoot = tmpDir("lfs_ours")
    val stock = initialized(new LocalFileSystem())
    val ours = initialized(new ForkFreeLocalFileSystem())
    build(stock, stockRoot)
    build(ours, oursRoot)
    val t = tree(oursRoot)
    assert(t.keySet.contains("dir a/.file.txt.crc"), t)
    assert(t == tree(stockRoot))
    for (p <- Seq("made", "made/deep", "masked/f", "dir a/file.txt"))
      assert(ours.getFileStatus(new Path(s"$oursRoot/$p")).getPermission ==
        stock.getFileStatus(new Path(s"$stockRoot/$p")).getPermission, p)
    assert(ours.getFileStatus(new Path(s"$oursRoot/made/deep")).getPermission.getStickyBit)
  }

  test("getFileLinkStatus matches stock Hadoop on a file, a directory, a missing path and a link") {
    val root = tmpDir("lfs_link")
    Files.writeString(Paths.get(root, "file"), "abc")
    Files.createDirectory(Paths.get(root, "dir"))
    Files.createSymbolicLink(Paths.get(root, "link"), Paths.get(root, "file"))
    val stock = initialized(new LocalFileSystem())
    val ours = initialized(new ForkFreeLocalFileSystem())
    def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      st.getLen, st.getModificationTime, if (st.isSymlink) st.getSymlink else null)
    for (name <- Seq("file", "dir", "link")) {
      val p = new Path(s"$root/$name")
      assert(view(ours.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), name)
    }
    val link = ours.getFileLinkStatus(new Path(s"$root/link"))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == s"$root/file")
    val missing = new Path(s"$root/missing")
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("FileContext.rename with OVERWRITE through the registered AbstractFileSystem matches stock") {
    def renames(fc: FileContext, root: String): Unit = {
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(s"$root/$name"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.writeBytes(text)
        out.close()
      }
      write("src", "new")
      write("dst", "old")
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        fc.rename(new Path(s"$root/src"), new Path(s"$root/dst")))
      fc.rename(new Path(s"$root/src"), new Path(s"$root/dst"), Options.Rename.OVERWRITE)
      fc.rename(new Path(s"$root/dst"), new Path(s"$root/moved"), Options.Rename.OVERWRITE)
      intercept[java.io.FileNotFoundException](
        fc.rename(new Path(s"$root/src"), new Path(s"$root/again"), Options.Rename.OVERWRITE))
    }
    val conf = spark.sessionState.newHadoopConf()
    val oursRoot = tmpDir("lfs_rename_ours")
    val stockRoot = tmpDir("lfs_rename_stock")
    renames(FileContext.getFileContext(fileUri, conf), oursRoot)
    renames(FileContext.getFileContext(fileUri, new Configuration()), stockRoot)
    assert(tree(oursRoot) == tree(stockRoot))
    assert(tree(oursRoot).keySet == Set("moved", ".moved.crc"))
    assert(Files.readString(Paths.get(oursRoot, "moved")) == "new")
  }

  /** The `jdk.ProcessStart` events JFR records while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("a notification batch and a stream batch start no subprocess") {
    import spark.implicits._
    val objects = tmpDir("lfs_objects")
    val notify = tmpDir("lfs_notify")
    val out = tmpDir("lfs_out")
    val ckpt = tmpDir("lfs_ckpt")
    val body = (key: String) =>
      s"""{"Records":[{"s3":{"object":{"key":"$key","size":1}}}]}"""
    for (k <- Seq("a.json", "b.json"))
      Files.writeString(Paths.get(objects, k), s"""{"ID": "$k", "name": "n", "age": 1}""")
    Files.writeString(Paths.get(notify, "n0.json"), body("b.json"))
    // Spark's executor-metrics poller forks `getconf PAGESIZE` once per
    // JVM, at its first heartbeat (10-20 s after the session starts):
    // initialize it now so the window holds only the batches' own work
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = processStarts {
      Streaming.convertNotificationBatch(Seq(body("a.json")).toDF("value"), 0L, objects, out)
      val q = Streaming.notificationDrivenStream(spark, notify, objects, out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    assert(started.isEmpty, started)
    for (k <- Seq("a.json", "b.json"))
      assert(spark.read.parquet(s"$out/$k.parquet").count() == 1, k)
  }
}
