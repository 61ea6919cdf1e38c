package graftbench

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class NioLocalFsSpec extends AnyFunSuite {
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("permission modes survive the java.nio round trip") {
    for (m <- Seq("000", "777", "644", "755", "600", "750"))
      assert(NioPerms.toMode(NioPerms.toPosix(octal(m))) == octal(m).toShort)
  }

  test("created directories and files report the permissions they were given") {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "niofs")
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    try {
      val sub = new Path(dir.toUri.toString, "a")
      assert(fs.mkdirs(sub, octal("750")))
      assert(fs.getFileStatus(sub).getPermission == octal("750"))
      val file = new Path(sub, "f.txt")
      val out = fs.create(file)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.setPermission(file, octal("640"))
      val listed = fs.listStatus(sub).filter(_.getPath.getName == "f.txt")
      assert(listed.map(_.getPermission).toSeq == Seq(octal("640")))
      assert(listed.head.getLen == 3)
      assert(listed.head.getOwner == System.getProperty("user.name"))
    } finally {
      fs.delete(new Path(dir.toUri.toString), true)
      fs.close()
    }
  }
}
