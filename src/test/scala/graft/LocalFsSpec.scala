package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.LocalFs

/** graft.core.LocalFs is bound to `file:` through core-site.xml and
  * keeps Hadoop's local-filesystem semantics: rename and overwrite,
  * link status, POSIX modes, bytes and checksums. */
class LocalFsSpec extends SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(new java.net.URI("file:///"), conf)
  private def fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
  private def tmp() = Files.createTempDirectory("localfs")
  private def write(p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }
  private def read(f: FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try in.readAllBytes() finally in.close()
  }
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("FileSystem and FileContext resolve file: to graft's classes") {
    for (c <- Seq(conf, new Configuration())) {
      val f = FileSystem.newInstance(new java.net.URI("file:///"), c)
      try {
        assert(f.isInstanceOf[LocalFs])
        assert(f.asInstanceOf[LocalFs].getRawFileSystem.isInstanceOf[LocalFs.Raw])
      } finally f.close()
      assert(FileSystem.getLocal(c).isInstanceOf[LocalFs])
      assert(FileContext.getFileContext(new java.net.URI("file:///"), c)
        .getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    }
  }

  test("FileContext rename: refuses an existing target unless OVERWRITE") {
    val d = tmp()
    val (src, dst) = (new Path(s"$d/src"), new Path(s"$d/dst"))
    write(src, "new".getBytes)
    write(dst, "old".getBytes)
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(new String(read(fs, dst)) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(read(fs, dst)) == "new")
    assert(!fs.exists(src) && !fs.exists(new Path(s"$d/.src.crc")))
    assert(fs.exists(new Path(s"$d/.dst.crc")))
  }

  test("getFileLinkStatus: a missing path is FileNotFound; a symlink is reported with its target") {
    val d = tmp()
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$d/none")))
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$d/none")))
    val target = d.resolve("target")
    Files.write(target, "t".getBytes)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(plain.isFile && !plain.isSymlink && plain.getLen == 1)
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val ds = fs.getFileLinkStatus(new Path(dangling.toString))
    assert(ds.isSymlink && ds.getSymlink.toUri.getPath == d.resolve("gone").toString)
  }

  test("create and mkdirs leave exactly the requested POSIX modes") {
    val d = tmp()
    val file = new Path(s"$d/f")
    fs.create(file, new FsPermission(Integer.parseInt("640", 8).toShort),
      true, 4096, 1.toShort, 1L << 20, null).close()
    assert(mode(Paths.get(s"$d/f")) == Integer.parseInt("640", 8))
    assert(fs.mkdirs(new Path(s"$d/a/b"),
      new FsPermission(Integer.parseInt("750", 8).toShort)))
    assert(mode(Paths.get(s"$d/a/b")) == Integer.parseInt("750", 8))
    fc.mkdir(new Path(s"$d/c"),
      new FsPermission(Integer.parseInt("750", 8).toShort), false)
    assert(mode(Paths.get(s"$d/c")) == Integer.parseInt("750", 8))
    // the sticky bit is Hadoop's own path (chmod), unchanged
    fs.setPermission(new Path(s"$d/c"),
      new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(Paths.get(s"$d/c")) == Integer.parseInt("1750", 8))
  }

  test("a written file reads back byte-identical, with Hadoop's own .crc, checked on read") {
    val d = tmp()
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31 + i / 7).toByte)
    val p = new Path(s"$d/data.bin")
    write(p, bytes)
    assert(read(fs, p).sameElements(bytes))
    val viaFc = new Path(s"$d/fc.bin")
    val out = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
    try out.write(bytes) finally out.close()
    assert(read(fs, viaFc).sameElements(bytes))
    // stock Hadoop writes the same checksum file for the same bytes
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), new Configuration())
    val ref = new Path(s"$d/ref.bin")
    val o = stock.create(ref, true)
    try o.write(bytes) finally o.close()
    val crc = Files.readAllBytes(Paths.get(s"$d/.data.bin.crc"))
    assert(crc.sameElements(Files.readAllBytes(Paths.get(s"$d/.ref.bin.crc"))))
    assert(crc.sameElements(Files.readAllBytes(Paths.get(s"$d/.fc.bin.crc"))))
    // the .crc is verified: a flipped byte fails the read
    val raw = Files.readAllBytes(Paths.get(s"$d/data.bin"))
    raw(100) = (raw(100) ^ 1).toByte
    Files.write(Paths.get(s"$d/data.bin"), raw)
    intercept[ChecksumException](read(fs, p))
  }
}
