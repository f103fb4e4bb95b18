package graft.sinks

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

class NioLocalFileSystemSpec extends SparkSpec {

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Fresh, uncached instances, so each takes `umask` from its own conf. */
  private def nioAndStock(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    def init(fs: FileSystem) = { fs.initialize(URI.create("file:///"), conf); fs }
    (init(new NioLocalFileSystem), init(new LocalFileSystem))
  }

  private def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")

  test("the session resolves file:// to NioLocalFileSystem") {
    // the FileSystem cache ignores the conf: this fails if anything cached
    // the stock class before the session was built
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
  }

  test("files and dirs get exactly the permissions the stock local file system gives") {
    val root = new Path(Files.createTempDirectory("graft-nio-perm").toUri)
    for (umask <- Seq("022", "077", "027")) {
      val (nio, stock) = nioAndStock(umask)
      // run `make` on both file systems at sibling paths, then compare the
      // modes of every path it returns
      def same(name: String)(make: (FileSystem, Path) => Seq[Path]): Seq[Int] = {
        val a = make(nio, new Path(root, s"$umask/nio/$name"))
        val b = make(stock, new Path(root, s"$umask/stock/$name"))
        a.zip(b).foreach { case (x, y) =>
          assert(mode(x) == mode(y), s"umask $umask: $x is ${mode(x).toOctalString}, $y is ${mode(y).toOctalString}")
        }
        a.map(mode)
      }
      val created = same("default") { (fs, p) => fs.create(p).close(); Seq(p, crc(p), p.getParent) }
      val nested = same("nested") { (fs, p) =>
        val leaf = new Path(p, "a/b/c")
        assert(fs.mkdirs(leaf))
        Seq(p, new Path(p, "a"), new Path(p, "a/b"), leaf)
      }
      val owner = same("0600") { (fs, p) =>
        fs.create(p, new FsPermission("600"), true, 4096, 1.toShort, 1L << 20, null).close()
        Seq(p, crc(p))
      }
      val group = same("0750") { (fs, p) =>
        val leaf = new Path(p, "x/y")
        assert(fs.mkdirs(leaf, new FsPermission("750")))
        Seq(p, new Path(p, "x"), leaf)
      }
      if (umask == "022") {
        assert(created == Seq("644", "644", "755").map(octal))
        assert(nested.forall(_ == octal("755")))
        assert(owner == Seq("600", "600").map(octal))
        assert(group.last == octal("750"))
      }
      // the sticky bit is not a POSIX file permission: it takes the stock path
      val sticky = same("sticky") { (fs, p) =>
        assert(fs.mkdirs(p))
        fs.setPermission(p, new FsPermission("1777"))
        Seq(p)
      }
      assert(sticky == Seq(octal("1777")))
    }
  }

  test("a .crc is still written, and a flipped data byte fails the read") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val p = new Path(new Path(Files.createTempDirectory("graft-nio-crc").toUri), "data.bin")
    val bytes = Array.tabulate[Byte](4096)(_.toByte)
    val out = fs.create(p)
    out.write(bytes)
    out.close()
    assert(new File(crc(p).toUri).length() > 0)
    def read(): Array[Byte] = {
      val in = fs.open(p)
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b } finally in.close()
    }
    assert(read().sameElements(bytes))
    // flip one data byte behind the file system's back
    val raf = new RandomAccessFile(new File(p.toUri), "rw")
    try { raf.seek(1000); raf.write(~bytes(1000)) } finally raf.close()
    intercept[ChecksumException](read())
  }
}
