package graft

import graft.ops.LocalFs
import graft.pipeline.Store
import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The session's local file system ([[LocalFs]]) behaves as Hadoop's
  * stock one — same mode bits, checksums still enforced — without
  * forking `chmod`. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration

  test("the session's file: FileSystem is the graft class") {
    assert(FileSystem.get(local, conf).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(conf).isInstanceOf[LocalFs])
  }

  /** Every file and directory under `root`, with its mode bits. */
  private def modes(root: java.nio.file.Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("dirs, files, .crc files and an explicit 0640 get stock Hadoop's mode bits") {
    for ((umask, g) <- Seq("022" -> "rw-r-----", "077" -> "rw-------")) {
      def run(impl: Class[_ <: FileSystem]): Map[String, String] = {
        val c = new Configuration(conf)
        c.set("fs.permissions.umask-mode", umask)
        val fs = impl.getConstructor().newInstance()
        fs.initialize(local, c)
        val root = Files.createTempDirectory("modes")
        val dir = new Path(root.toUri.toString, "d/e")
        assert(fs.mkdirs(dir))
        val out = fs.create(new Path(dir, "f")); out.write(1); out.close()
        fs.create(new Path(dir, "g"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        modes(root)
      }
      val before = LocalFs.fallbacks.sum
      val graft = run(classOf[LocalFs])
      assert(LocalFs.fallbacks.sum === before)
      val stock = run(classOf[LocalFileSystem])
      assert(graft === stock, s"umask $umask")
      // d, e, f, .f.crc, g, .g.crc
      assert(graft.size === 6)
      assert(graft("d/e/g") === g)
    }
  }

  test("a flipped byte in a stored parquet file fails the read with a ChecksumException") {
    val root = Files.createTempDirectory("store-crc")
    val store = new Store(root.toString)
    store.put(spark.range(0, 20000, 1, 1)
      .selectExpr("'aced-a' AS project_id", "id", "cast(id * 7 AS string) AS s"))
    val part = Files.walk(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(part.size === 1)
    assert(Files.exists(part.head.resolveSibling(s".${part.head.getFileName}.crc")))
    assert(store.read(spark).count() === 20000)
    val f = new RandomAccessFile(part.head.toFile, "rw")
    try {
      val at = f.length / 2
      f.seek(at); val b = f.read()
      f.seek(at); f.write(b ^ 0xff)
    } finally f.close()
    val e = intercept[Exception](store.read(spark).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }
}
