package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, TempDirs}
import graft.streaming.Streams

/** Pins `Sessions.HadoopLocalFs`: what `file:` resolves to, and that
  * [[ForkFreeRawLocalFileSystem]] answers as stock `RawLocalFileSystem`
  * does for the two calls it takes over. */
class LocalFsSpec extends SparkSpec {
  private val fileUri = new URI("file:///")

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(fileUri, new Configuration()); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = TempDirs.scratch("localfs_spec_")
    try body(dir) finally TempDirs.deleteRecursively(dir)
  }

  /** The whole `st_mode`: type, sticky bit and the nine permission bits. */
  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("file: resolves to the fork-free filesystem in both Hadoop APIs, parent and child session") {
    for ((label, s) <- Seq("parent" -> spark, "row session" -> Streams.rowSession(spark))) {
      val conf = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem], s"$label: ${fs.getClass}")
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem], label)
      val afs = FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
      assert(afs.isInstanceOf[ForkFreeLocalFs], s"$label: ${afs.getClass}")
    }
  }

  test("setPermission leaves the same mode as stock on files and dirs") {
    withDir { dir =>
      for (m <- Seq("600", "644", "700", "755", "777"); kind <- Seq("file", "dir")) {
        val modes = Seq(stock, forkFree).map { fs =>
          val p = dir.resolve(s"${kind}_${m}_${fs.getClass.getSimpleName}")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          fs.setPermission(new Path(p.toString), new FsPermission(m))
          mode(p)
        }
        assert(modes.head == modes.last, s"$kind $m")
        assert((modes.head & 0x1ff) == Integer.parseInt(m, 8), s"$kind $m")
      }
    }
  }

  test("a sticky-bit mode still takes Hadoop's path") {
    withDir { dir =>
      val p = dir.resolve("sticky")
      Files.createDirectory(p)
      // NIO cannot set the sticky bit; only Hadoop's chmod leaves it
      forkFree.setPermission(new Path(p.toString), new FsPermission("1777"))
      assert((mode(p) & 0xfff) == Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus matches stock for a file, a dir, a symlink and a dangling symlink") {
    def outcome(fs: RawLocalFileSystem, p: Path): Any =
      try {
        val st = fs.getFileLinkStatus(p)
        (st.getLen, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink.toString else "", st.getModificationTime)
      } catch { case e: FileNotFoundException => e.getClass }
    withDir { dir =>
      val file = Files.write(dir.resolve("file"), "abc".getBytes)
      val sub = Files.createDirectory(dir.resolve("dir"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      // stock reads the link of `Path.toString`, so it sees no link behind
      // a `file:` URI; both forms must still agree
      for (p <- Seq(file, sub, link, dangling);
           hp <- Seq(new Path(p.toString), new Path(p.toUri)))
        assert(outcome(forkFree, hp) == outcome(stock, hp), hp)
      val links = Seq(file, sub, link, dangling).map(p => outcome(forkFree, new Path(p.toString)))
        .collect { case t: Product => t.productElement(2) }
      assert(links == Seq(false, false, true, true))
      val missing = new Path(dir.resolve("missing").toString)
      assert(outcome(stock, missing) == classOf[FileNotFoundException])
      assert(outcome(forkFree, missing) == classOf[FileNotFoundException])
    }
  }
}
