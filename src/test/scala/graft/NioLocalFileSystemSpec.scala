package graft

import graft.plans.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** [[NioLocalFileSystem]]: the mode bits it sets in-process are the ones
  * `chmod` sets, it refuses bits POSIX permissions cannot hold, and what
  * it writes (with its `.crc` sidecar) reads back through the session's
  * file system with the checksum verified.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def nioFs(): NioLocalFileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(new File("/").toURI, new Configuration())
    fs
  }

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("modes 0600, 0640, 0750 and 0755 set the bits chmod sets, on files and dirs") {
    val fs = nioFs()
    val dir = Files.createTempDirectory("graft-niofs-mode").toFile
    for (m <- Seq("0600", "0640", "0750", "0755"); kind <- Seq("file", "dir")) {
      val viaNio = new File(dir, s"nio-$kind-$m")
      val viaChmod = new File(dir, s"chmod-$kind-$m")
      Seq(viaNio, viaChmod).foreach(f => if (kind == "dir") f.mkdir() else f.createNewFile())
      fs.setPermission(new Path(viaNio.toURI), new FsPermission(Integer.parseInt(m, 8).toShort))
      assert(new ProcessBuilder("chmod", m, viaChmod.getPath).start().waitFor() == 0)
      assert(mode(viaNio) == mode(viaChmod), s"$kind mode $m")
    }
  }

  test("a mode with bits outside 0777 (sticky, setuid) fails instead of being dropped") {
    val f = Files.createTempFile("graft-niofs-bits", "").toFile
    val before = mode(f)
    val sticky = intercept[IllegalArgumentException](nioFs().setPermission(new Path(f.toURI),
      new FsPermission(Integer.parseInt("1755", 8).toShort)))
    assert(sticky.getMessage.contains("1755 has bits outside 0777"))
    assert(mode(f) == before)
    // FsPermission itself keeps no setuid bit, so check the mapping directly
    val setuid = intercept[IllegalArgumentException](NioLocalFileSystem.posix(Integer.parseInt("4755", 8)))
    assert(setuid.getMessage.contains("4755 has bits outside 0777"))
  }

  test("a file it writes reads back through the session file system with its checksum verified") {
    val dir = Files.createTempDirectory("graft-niofs-crc").toFile
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    def write(fs: org.apache.hadoop.fs.FileSystem, name: String): Path = {
      val p = new Path(new File(dir, s"$name/part-0").toURI)
      val out = fs.create(p)
      try out.write(bytes) finally out.close()
      p
    }
    val p = write(nioFs(), "nio")
    assert(mode(new File(dir, "nio/part-0")) == "rw-r--r--")
    assert(mode(new File(dir, "nio")) == "rwxr-xr-x")

    val session = p.getFileSystem(SparkSpec.spark.sparkContext.hadoopConfiguration)
    assert(!session.isInstanceOf[NioLocalFileSystem])
    // the sidecar is the one the session's file system writes for the
    // same bytes, and its reads verify against it (verifyChecksum is on)
    write(session, "session")
    def crc(name: String) = Files.readAllBytes(new File(dir, s"$name/.part-0.crc").toPath)
    assert(crc("nio").sameElements(crc("session")))
    val in = session.open(p)
    try assert(in.readAllBytes().sameElements(bytes)) finally in.close()
  }
}
