package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** NioLocalFs must behave as Hadoop's stock local filesystem in every
  * way a checkpoint or store relies on (modes, rename, checksums,
  * symlinks); only the forked helper processes go. The cases run
  * through both Hadoop APIs, with the stock classes as the reference
  * where their behaviour is compared.
  */
class NioLocalFsSpec extends AnyFunSuite {

  private val Root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def fileSystem(nio: Boolean, c: Configuration): FileSystem = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(Root, c)
    fs
  }

  private def fileContext(nio: Boolean, c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl",
      (if (nio) classOf[NioLocalFs] else classOf[LocalFs]).getName)
    FileContext.getFileContext(Root, cc)
  }

  private def withDir[A](body: JPath => A): A = {
    val d = Files.createTempDirectory("graft-niofs")
    try body(d)
    finally org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
  }

  private def hp(p: JPath): Path = new Path(p.toString)

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Creates directories and files under a fresh directory through
    * both APIs (default modes, explicit modes, a later setPermission)
    * and returns every resulting entry, the `.crc` sidecars included,
    * with its POSIX mode.
    */
  private def modesAfterCreates(nio: Boolean,
      umask: String): Map[String, String] = withDir { d =>
    val c = conf(umask)
    val fs = fileSystem(nio, c)
    fs.mkdirs(hp(d.resolve("fs-dir/sub")))
    fs.create(hp(d.resolve("fs-dir/sub/f"))).close()
    fs.create(hp(d.resolve("fs-explicit")), new FsPermission("750"),
      true, 4096, 1.toShort, 1L << 20, null).close()
    fs.create(hp(d.resolve("fs-set"))).close()
    fs.setPermission(hp(d.resolve("fs-set")), new FsPermission("604"))

    val fc = fileContext(nio, c)
    fc.mkdir(hp(d.resolve("fc-dir/sub")), FsPermission.getDirDefault, true)
    fc.create(hp(d.resolve("fc-dir/sub/f")),
      EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(hp(d.resolve("fc-explicit")), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("751"))).close()

    val s = Files.walk(d)
    try {
      val b = Map.newBuilder[String, String]
      s.forEach(p => if (p != d) b += d.relativize(p).toString -> mode(p))
      b.result()
    } finally s.close()
  }

  test("files and directories get the stock LocalFileSystem/LocalFs " +
    "modes under a fixed umask, through both APIs") {
    for (umask <- Seq("022", "077", "027")) {
      val stock = modesAfterCreates(nio = false, umask)
      val nio = modesAfterCreates(nio = true, umask)
      assert(stock.size >= 12, s"umask $umask: too few entries: $stock")
      assert(stock.keySet.exists(_.endsWith(".crc")),
        s"umask $umask: no checksum sidecars: $stock")
      assert(nio == stock, s"umask $umask: NioLocalFs modes $nio differ " +
        s"from stock $stock")
    }
  }

  test("a rename onto an existing file replaces it: FileContext with " +
    "OVERWRITE, and FileSystem.rename as in stock LocalFileSystem") {
    withDir { d =>
      val c = conf("022")
      val fc = fileContext(nio = true, c)
      val fs = fileSystem(nio = true, c)
      def write(name: String, text: String): Unit = {
        val out = fc.create(hp(d.resolve(name)),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      def read(name: String): String = {
        val in = fc.open(hp(d.resolve(name)), 4096)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("src", "new contents")
      write("dst", "old")
      fc.rename(hp(d.resolve("src")), hp(d.resolve("dst")),
        Options.Rename.OVERWRITE)
      assert(!Files.exists(d.resolve("src")))
      // The checksum file moved with the data and still verifies it.
      assert(!Files.exists(d.resolve(".src.crc")))
      assert(read("dst") == "new contents")

      // StoreManifest's pointer flip tries this atomic replace first.
      write("next", "newer")
      assert(fs.rename(hp(d.resolve("next")), hp(d.resolve("dst"))))
      assert(read("dst") == "newer")
    }
  }

  test("one flipped byte still fails the read with ChecksumException, " +
    "through both APIs") {
    val payload = Array.tabulate[Byte](8192)(i => (i * 31).toByte)
    for (nio <- Seq(false, true)) withDir { d =>
      val c = conf("022")
      val fs = fileSystem(nio, c)
      val fc = fileContext(nio, c)
      val viaFs = hp(d.resolve("via-fs"))
      val viaFc = hp(d.resolve("via-fc"))
      val o1 = fs.create(viaFs)
      try o1.write(payload) finally o1.close()
      val o2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
      try o2.write(payload) finally o2.close()

      Seq("via-fs", "via-fc").foreach { name =>
        val raf = new RandomAccessFile(d.resolve(name).toFile, "rw")
        try { raf.seek(5000); raf.write(~payload(5000)) } finally raf.close()
      }
      // FileContext.open(path) without a buffer size goes straight to
      // the raw filesystem in stock Hadoop (FilterFs.open(Path)) and
      // verifies nothing; that is what Spark's own checkpoint checksum
      // files cover. The sized open is the checksummed one.
      Seq[(String, Path => java.io.InputStream)](
        "fs" -> (fs.open(_)), "fc" -> (fc.open(_, 4096)))
        .zip(Seq(viaFs, viaFc)).foreach { case ((api, open), p) =>
          val in = open(p)
          try withClue(s"nio=$nio $api: ") {
            intercept[ChecksumException](in.readAllBytes())
          } finally in.close()
        }
    }
  }

  test("a real symlink still reports isSymlink; a plain file does not") {
    withDir { d =>
      val target = d.resolve("target")
      Files.write(target, "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(d.resolve("link"), target)
      val c = conf("022")
      for (nio <- Seq(false, true)) {
        val fs = fileSystem(nio, c)
        val fc = fileContext(nio, c)
        assert(fs.getFileLinkStatus(hp(link)).isSymlink, s"nio=$nio fs")
        assert(fc.getFileLinkStatus(hp(link)).isSymlink, s"nio=$nio fc")
        assert(!fs.getFileLinkStatus(hp(target)).isSymlink, s"nio=$nio fs")
        assert(!fc.getFileLinkStatus(hp(target)).isSymlink, s"nio=$nio fc")
      }
    }
  }
}
