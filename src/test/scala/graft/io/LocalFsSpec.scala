package graft.io

import graft.{PlannerCells, SparkSpec}
import graft.streaming.StreamApply
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

case class FsEv(key: Int, seq: Long, op: String, name: String)

/** [[LocalFs]], the java.nio binding of Hadoop's `file:` scheme: no
  * process is forked on the CDC apply path, whether the JVM's cached
  * `file:` filesystem is the binding or Hadoop's stock one, and the
  * binding leaves the same permissions, statuses, renames and checksums
  * as stock Hadoop.
  */
class LocalFsSpec extends SparkSpec with PlannerCells {

  private val StockFs = classOf[LocalFileSystem].getName
  private val StockAfs = "org.apache.hadoop.fs.local.LocalFs"
  private val FileUri = URI.create("file:///")
  private val Forks = Seq("chmod", "readlink", "stat")

  /** `body`'s result and the command lines of the processes the JVM
    * started while it ran, from JFR's `jdk.ProcessStart` events.
    */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(f)
      val cmds = RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      (out, cmds)
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def df(evs: Seq[FsEv]): DataFrame = {
    import spark.implicits._
    evs.toDF()
  }

  private val batches = Seq(
    (1 to 40).map(k => FsEv(k, k, "c", s"n$k")),
    (1 to 40 by 3).map(k => FsEv(k, 100 + k, if (k % 2 == 0) "d" else "u", s"m$k")),
    (2 to 50 by 4).map(k => FsEv(k, 200 + k, "c", s"o$k")))

  /** Process starts per step of the CDC apply path: flat merges,
    * `compactStores`, an IVM merge and three triggers of an
    * `upsertWriter` query (its start counted apart).
    */
  private def applyPath(root: Path): Seq[(String, Seq[String])] = {
    def flat(d: String) = new StreamApply.ParquetUpsertStore(spark, s"$root/$d",
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("name"))
    val merged = flat("flat")
    val fleet = flat("fleet/a")
    val ivm = new StreamApply.IvmUpsertStore(spark, s"$root/ivm", key = "key",
      seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("name"), aggCol = "name")
    // several part files per version, so compactStores has work to do
    val noCoalesce = Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    def step(name: String)(body: => Unit) = name -> processStarts(body)._2
    val steps = Seq(
      step("first flat merge")(merged.merge(df(batches(0)), 0)),
      step("later flat merge")(merged.merge(df(batches(1)), 1)),
      step("compactStores") {
        withConfs(noCoalesce)(fleet.merge(df(batches(0)), 0))
        assert(StreamApply.compactStores(spark, s"$root/fleet").nonEmpty)
      },
      step("IVM merges") {
        ivm.merge(df(batches(0)), 0)
        ivm.merge(df(batches(1)), 1)
      })
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[FsEv]
    val (q, started) = processStarts(
      StreamApply.upsertWriter(in.toDF(), flat("stream"), s"$root/ckpt").start())
    try {
      val triggers = step("3 upsertWriter triggers")(batches.foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      })
      assert(q.lastProgress.batchId == 2, "expected three triggers")
      steps :+ ("upsertWriter start" -> started) :+ triggers
    } finally q.stop()
  }

  private def forked(cmds: Seq[String]): Seq[String] =
    cmds.filter(c => Forks.contains(Paths.get(c.takeWhile(_ != ' ')).getFileName.toString))

  /** Run `body` as under a session that binds nothing, as perfbench's: the
    * JVM's cached `file:` filesystem is Hadoop's stock `LocalFileSystem`
    * and both `file:` keys hold Hadoop's defaults, in the SparkContext's
    * Hadoop conf and in the session conf. Restores all three after.
    */
  private def withStockLocalFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq(LocalFs.FileSystemKey -> StockFs, LocalFs.AbstractFileSystemKey -> StockAfs)
    val saved = keys.map { case (k, _) => k -> Option(hc.getRaw(k)) }
    keys.foreach { case (k, v) => hc.set(k, v) }
    FileSystem.get(FileUri, hc).close() // evicts the cached instance
    val stock = FileSystem.get(FileUri, hc)
    try {
      assert(stock.getClass == classOf[LocalFileSystem])
      withConfs(keys.toMap)(body)
    } finally {
      stock.close()
      saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    }
  }

  private def assertNoForks(steps: Seq[(String, Seq[String])]): Unit = {
    info(steps.map { case (s, c) => s"$s: ${c.size}" }.mkString("process starts: ", ", ", ""))
    steps.foreach { case (s, cmds) =>
      assert(forked(cmds).isEmpty, s"$s forked ${forked(cmds).size}: ${forked(cmds).take(5)}")
    }
  }

  test("the CDC apply path forks no chmod, readlink or stat under Session.local") {
    assert(FileSystem.get(FileUri, spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem], "Session.local binds the cached file: filesystem")
    assertNoForks(applyPath(Files.createTempDirectory("graft-localfs")))
  }

  test("the CDC apply path forks no chmod, readlink or stat when the cached file: filesystem is stock") {
    assertNoForks(withStockLocalFs(applyPath(Files.createTempDirectory("graft-localfs-stock"))))
  }

  // ---- parity with stock Hadoop -------------------------------------------

  private def conf(fs: String, afs: String, umask: Option[String]): Configuration = {
    val c = new Configuration()
    c.set(LocalFs.FileSystemKey, fs)
    c.set(LocalFs.AbstractFileSystemKey, afs)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** A stock and a bound configuration, each with a fresh directory. */
  private def sides(umask: Option[String] = None): Seq[(String, Configuration, Path)] = Seq(
    ("stock", conf(StockFs, StockAfs, umask), Files.createTempDirectory("graft-stock")),
    ("nio", conf(LocalFs.Bindings(LocalFs.FileSystemKey),
      LocalFs.Bindings(LocalFs.AbstractFileSystemKey), umask),
      Files.createTempDirectory("graft-nio")))

  private def withFs[T](c: Configuration)(body: FileSystem => T): T = {
    val fs = FileSystem.newInstance(FileUri, c)
    try body(fs) finally fs.close()
  }

  private def hp(p: Path): HPath = new HPath(p.toUri)

  /** Relative path -> mode bits (sticky included) of everything under `root`. */
  private def modes(root: Path): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
    }.toMap
    finally s.close()
  }

  test("created files and directories get stock Hadoop's permissions, under any umask") {
    for (umask <- Seq(None, Some("077"), Some("002"))) {
      val trees = sides(umask).map { case (name, c, root) =>
        withFs(c) { fs =>
          assert(fs.getClass.getName == c.get(LocalFs.FileSystemKey))
          fs.mkdirs(hp(root.resolve("a/b")))
          fs.create(hp(root.resolve("a/b/f"))).close()
          fs.create(hp(root.resolve("g")), new FsPermission("640"), false, 4096,
            1.toShort, 1L << 20, null).close()
          fs.mkdirs(hp(root.resolve("d")), new FsPermission("750"))
          fs.mkdirs(hp(root.resolve("t")))
          fs.setPermission(hp(root.resolve("t")), new FsPermission("1777"))
          fs.setPermission(hp(root.resolve("g")), new FsPermission("604"))
        }
        val fc = FileContext.getFileContext(FileUri, c)
        assert(fc.getDefaultFileSystem.getClass.getName == c.get(LocalFs.AbstractFileSystemKey))
        fc.mkdir(hp(root.resolve("fc/x")), FsPermission.getDirDefault, true)
        fc.create(hp(root.resolve("fc/x/f")),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
        name -> modes(root)
      }.toMap
      withClue(s"umask $umask: ") {
        assert(trees("nio").keySet.exists(_.endsWith(".crc")))
        assert(trees("nio")("t") == 0x3ff, "sticky bit kept") // 1777
        assert(trees("nio") == trees("stock"))
      }
    }
  }

  /** Every field of `st`, with its symlink target when it is one. */
  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else None, st.getLen, st.getModificationTime,
      st.getAccessTime, st.getReplication, st.getBlockSize, st.getPermission,
      st.getOwner, st.getGroup)

  test("getFileLinkStatus answers as stock Hadoop for a file, a directory and symlinks") {
    val root = Files.createTempDirectory("graft-links")
    val file = Files.writeString(root.resolve("file"), "x")
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val answers = sides().map { case (name, c, _) =>
      val fc = FileContext.getFileContext(FileUri, c)
      name -> withFs(c) { fs =>
        for {
          p <- Seq(file, dir, link, dangling)
          path <- Seq(hp(p), new HPath(p.toString)) // qualified and bare
          (api, get) <- Seq[(String, HPath => FileStatus)](
            "FileSystem" -> fs.getFileLinkStatus, "FileContext" -> fc.getFileLinkStatus)
        } yield (s"$api $path", Try(fields(get(path))).toEither.left.map(_.getClass))
      }
    }.toMap
    assert(answers("nio").exists(_._2.exists(_(3) == true)), "a symlink seen as one")
    assert(answers("nio").exists(_._2.isLeft), "a dangling link throws somewhere")
    assert(answers("nio") == answers("stock"))
  }

  test("FileContext.rename with OVERWRITE replaces, with NONE throws, as stock Hadoop") {
    val outcomes = sides().map { case (name, c, root) =>
      val fc = FileContext.getFileContext(FileUri, c)
      def put(f: String, body: String): Unit = {
        val out = fc.create(hp(root.resolve(f)), java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      def tree(): Map[String, String] = modes(root).keys.toSeq.sorted.map { f =>
        val p = root.resolve(f)
        f -> (if (Files.isDirectory(p)) "/" else if (f.endsWith(".crc")) "crc"
              else Files.readString(p))
      }.toMap
      put("dst", "old")
      put("src", "new")
      val refused = Try(fc.rename(hp(root.resolve("src")), hp(root.resolve("dst")),
        Options.Rename.NONE)).failed.toOption.map(_.getClass)
      val afterNone = tree()
      fc.rename(hp(root.resolve("src")), hp(root.resolve("dst")), Options.Rename.OVERWRITE)
      name -> (refused, afterNone, tree(), modes(root))
    }.toMap
    val (refused, afterNone, afterOverwrite, _) = outcomes("nio")
    assert(refused.contains(classOf[FileAlreadyExistsException]))
    assert(afterNone ==
      Map("dst" -> "old", ".dst.crc" -> "crc", "src" -> "new", ".src.crc" -> "crc"))
    assert(afterOverwrite == Map("dst" -> "new", ".dst.crc" -> "crc"))
    assert(outcomes("nio") == outcomes("stock"))
  }

  test("store part files keep .crc sidecars, and a corrupted part fails verification") {
    val dir = Files.createTempDirectory("graft-crc").toString
    val store = new StreamApply.ParquetUpsertStore(spark, dir,
      key = "key", seq = "seq", opCol = "op", deleteOp = "d", payloadCols = Seq("name"))
    store.merge(df(batches(0)), 0)
    val ver = Paths.get(dir, Files.readString(Paths.get(dir, "CURRENT")).trim)
    val parts = {
      val s = Files.list(ver)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    }
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc for $p")
    }
    val part = parts.head
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(part, bytes)
    sides().foreach { case (name, c, _) =>
      withFs(c) { fs =>
        val in = fs.open(hp(part))
        try withClue(s"$name: ")(intercept[ChecksumException](
          in.readFully(0L, new Array[Byte](bytes.length))))
        finally in.close()
      }
    }
  }
}
