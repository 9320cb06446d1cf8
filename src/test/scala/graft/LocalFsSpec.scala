package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] must give Hadoop's `RawLocalFileSystem`'s
  * results: the engine swaps it in for every `file:` path, so parity IS
  * the correctness argument. Each case runs Hadoop's class (which starts
  * `chmod`/`readlink` processes here, libhadoop not loading) and the NIO
  * one on twin fixtures: every rwx mode on a file and a directory, modes
  * NIO cannot express (sticky, set-id), symlinks to files and
  * directories, dangling and relative links, a directory reached through
  * a linked parent, a missing path, each as a bare and a qualified path.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def withDir[T](f: java.io.File => T): T = {
    val dir = Files.createTempDirectory("graft_localfs").toFile
    try f(dir) finally LocalFs.deleteRecursively(dir)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xFFF

  /** chmod(1) itself, to give fixtures the set-id bits NIO cannot. */
  private def shellChmod(mode: String, p: java.nio.file.Path): Unit =
    assert(new ProcessBuilder("chmod", mode, p.toString).start()
      .waitFor() == 0)

  /** Twin fixtures `<name>_h` and `<name>_n`: one per implementation. */
  private def twins(dir: java.io.File, name: String, isDir: Boolean)
      : (java.nio.file.Path, java.nio.file.Path) = {
    def mk(s: String) = {
      val p = dir.toPath.resolve(s"${name}_$s")
      if (isDir) Files.createDirectory(p) else Files.write(p, Array[Byte](1))
    }
    (mk("h"), mk("n"))
  }

  private def hp(p: java.nio.file.Path) = new Path(p.toString)

  test("setPermission: all 512 rwx modes equal chmod's, file and dir") {
    withDir { dir =>
      for (isDir <- Seq(false, true)) {
        val (h, n) = twins(dir, if (isDir) "d" else "f", isDir)
        (0 until 512).foreach { m =>
          val perm = new FsPermission(m.toShort)
          hadoop.setPermission(hp(h), perm)
          nio.setPermission(hp(n), perm)
          assert(mode(n) == mode(h) && mode(n) == m,
            f"mode $m%03o isDir=$isDir: chmod ${mode(h)}%04o, " +
              f"nio ${mode(n)}%04o")
        }
      }
    }
  }

  test("sticky and set-id fall back to chmod with chmod's result") {
    withDir { dir =>
      def same(h: java.nio.file.Path, n: java.nio.file.Path,
               perm: FsPermission): Unit = {
        hadoop.setPermission(hp(h), perm)
        nio.setPermission(hp(n), perm)
        assert(mode(n) == mode(h), f"$perm: chmod ${mode(h)}%04o, " +
          f"nio ${mode(n)}%04o")
      }
      // the sticky bit: no PosixFilePermission says it
      val (sd, sdN) = twins(dir, "sticky_d", isDir = true)
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      assert(!LocalFs.nioChmod(sdN, sticky.toShort))
      same(sd, sdN, sticky)
      assert(mode(sdN) == Integer.parseInt("1777", 8))
      val (sf, sfN) = twins(dir, "sticky_f", isDir = false)
      same(sf, sfN, new FsPermission(Integer.parseInt("1644", 8).toShort))
      // a set-gid directory: GNU chmod keeps the bit for a 4-digit
      // octal mode, chmod(2) would clear it
      val (gd, gdN) = twins(dir, "setgid_d", isDir = true)
      Seq(gd, gdN).foreach(shellChmod("2755", _))
      val rwx750 = new FsPermission(Integer.parseInt("750", 8).toShort)
      assert(!LocalFs.nioChmod(gdN, rwx750.toShort))
      same(gd, gdN, rwx750)
      // a set-uid file: chmod clears it either way
      val (uf, ufN) = twins(dir, "setuid_f", isDir = false)
      Seq(uf, ufN).foreach(shellChmod("4755", _))
      assert(!LocalFs.nioChmod(ufN, Integer.parseInt("644", 8)))
      same(uf, ufN, new FsPermission(Integer.parseInt("644", 8).toShort))
      assert(mode(ufN) == Integer.parseInt("644", 8))
      // FsPermission cannot carry set-uid: the request is plain rwx
      val (pf, pfN) = twins(dir, "setuid_req", isDir = false)
      same(pf, pfN, new FsPermission(Integer.parseInt("4755", 8).toShort))
    }
  }

  test("setPermission on a missing path throws IOException in both") {
    withDir { dir =>
      val missing = hp(dir.toPath.resolve("missing"))
      val perm = new FsPermission(Integer.parseInt("644", 8).toShort)
      intercept[IOException](hadoop.setPermission(missing, perm))
      intercept[IOException](nio.setPermission(missing, perm))
    }
  }

  /** The fields a caller can read off a status. */
  private def view(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, s.getReplication, s.getBlockSize)

  private def outcome(f: => FileStatus): Either[Class[_], Seq[Any]] =
    try Right(view(f)) catch { case e: IOException => Left(e.getClass) }

  /** A tree with every link shape, and its paths bare and qualified. */
  private def linkTree(dir: java.io.File): Seq[Path] = {
    val r = dir.toPath
    val f = Files.write(r.resolve("file"), "abc".getBytes(UTF_8))
    val d = Files.createDirectory(r.resolve("dir"))
    Files.createDirectory(d.resolve("inner"))
    Files.write(d.resolve("inner_file"), "xy".getBytes(UTF_8))
    Files.createSymbolicLink(r.resolve("link_file"), f)
    Files.createSymbolicLink(r.resolve("link_dir"), d)
    Files.createSymbolicLink(r.resolve("dangling"), r.resolve("gone"))
    Files.createSymbolicLink(r.resolve("relative"), Paths.get("file"))
    Files.createSymbolicLink(d.resolve("link_up"), Paths.get("../file"))
    val names = Seq("file", "dir", "dir/inner", "link_file", "link_dir",
      "dangling", "relative", "link_dir/inner", "link_dir/inner_file",
      "link_dir/link_up", "missing", "link_dir/missing")
    names.flatMap { n =>
      val bare = r.resolve(n).toString
      Seq(new Path(bare), new Path("file:" + bare),
        new Path(URI.create("file://" + bare)))
    }
  }

  test("getFileLinkStatus and getLinkTarget equal Hadoop's on every link " +
    "shape, bare and qualified") {
    withDir { dir =>
      val paths = linkTree(dir)
      paths.foreach { p =>
        val h = outcome(hadoop.getFileLinkStatus(p))
        assert(outcome(nio.getFileLinkStatus(p)) == h, s"status of $p")
        def target(fs: RawLocalFileSystem) =
          try Right(fs.getLinkTarget(p))
          catch { case e: IOException => Left(e.getClass) }
        assert(target(nio) == target(hadoop), s"link target of $p")
      }
      // the fixtures really cover links, dangling links and misses
      val bare = paths.filter(_.toUri.getScheme == null)
      def st(n: String) =
        hadoop.getFileLinkStatus(bare.find(_.toString.endsWith("/" + n)).get)
      assert(st("link_file").isSymlink && st("dangling").isSymlink &&
        st("relative").getSymlink.toString.endsWith("/file") &&
        !st("link_dir/inner").isSymlink && st("link_dir/link_up").isSymlink)
      // a qualified path reads its target's status (Hadoop reads the
      // link of new File("file:/…"), which names nothing)
      assert(!nio.getFileLinkStatus(
        new Path("file:" + dir.toPath.resolve("link_file"))).isSymlink)
    }
  }

  test("a missing path raises FileNotFoundException in both") {
    withDir { dir =>
      for (p <- Seq(new Path(dir.toString + "/missing"),
                    new Path("file:" + dir.toString + "/missing"))) {
        intercept[FileNotFoundException](hadoop.getFileLinkStatus(p))
        intercept[FileNotFoundException](nio.getFileLinkStatus(p))
      }
    }
  }

  test("AbstractFileSystem twin: FileContext status, create and " +
    "overwrite-rename equal Hadoop's LocalFs") {
    def ctx(impl: Option[String]) = {
      val c = new Configuration()
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      val afs = AbstractFileSystem.get(URI.create("file:///"), c)
      (afs, FileContext.getFileContext(afs, c))
    }
    val (hAfs, hFc) = ctx(None)
    val (nAfs, nFc) = ctx(Some(classOf[NioLocalFs].getName))
    assert(hAfs.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    assert(nAfs.isInstanceOf[NioLocalFs])
    withDir { dir =>
      linkTree(dir).foreach { p =>
        assert(outcome(nAfs.getFileLinkStatus(p)) ==
          outcome(hAfs.getFileLinkStatus(p)), s"status of $p")
      }
    }
    withDir { dir =>
      // the checkpoint file manager's commit: write a temp file, rename
      // it over the target with OVERWRITE; checksums follow the file
      def commit(fc: FileContext, sub: String): Seq[(String, Int)] = {
        val d = new Path(dir.toString, sub)
        fc.mkdir(d, FsPermission.getDirDefault, true)
        Seq("v1", "v2").foreach { v =>
          val tmp = new Path(d, s".tmp_$v")
          val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE,
            CreateFlag.OVERWRITE))
          out.write(v.getBytes(UTF_8)); out.close()
          fc.rename(tmp, new Path(d, "0"), Options.Rename.OVERWRITE)
        }
        val in = fc.open(new Path(d, "0"))
        assert(new String(in.readAllBytes(), UTF_8) == "v2"); in.close()
        new java.io.File(dir, sub).listFiles.toSeq
          .map(f => f.getName -> mode(f.toPath)).sorted
      }
      assert(commit(nFc, "n") == commit(hFc, "h"))
    }
  }
}
