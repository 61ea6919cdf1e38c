package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rule that keeps [[Scratch]] the single scratch module: under
  * `src/main`, `createTempDirectory` and `java.io.tmpdir` appear only in
  * `Scratch.scala`. A second call site is a second lifetime policy (its
  * directories outlive the JVM or are never retired), and a fixed path
  * under the temp dir is shared — and overwritten — by every JVM on the
  * host.
  */
class ScratchRuleSpec extends AnyFunSuite {

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  Seq("createTempDirectory", "java.io.tmpdir").foreach { word =>
    test(s"`$word` appears under src/main only in Scratch.scala") {
      assert(sources.exists(_.getFileName.toString == "Scratch.scala"))
      val offenders = sources.filter(p =>
        p.getFileName.toString != "Scratch.scala" &&
          Files.readString(p).contains(word))
      assert(offenders.isEmpty, s"`$word` outside Scratch.scala: " +
        offenders.mkString(", "))
    }
  }
}
