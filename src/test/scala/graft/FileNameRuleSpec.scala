package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rule that keeps `KeyedTable.relFileName` the one conversion
  * from a scan's file string to a table-relative name: under `src/main`,
  * the URI parser, `substring_index` and `url_decode` appear at most once
  * each, in `KeyedTable.scala`. A second conversion is a second naming: a
  * candidate source answering in it names files no other source, no
  * timeline record and no scan swap can match.
  */
class FileNameRuleSpec extends AnyFunSuite {

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  Seq("java.net.URI", "substring_index", "url_decode").foreach { word =>
    test(s"`$word` appears under src/main at most once, in KeyedTable.scala") {
      val pattern = java.util.regex.Pattern.quote(word).r
      val hits = sources.map(p => p -> pattern.findAllMatchIn(Files.readString(p)).length)
        .filter(_._2 > 0)
      assert(hits.forall(_._1.getFileName.toString == "KeyedTable.scala") &&
        hits.map(_._2).sum <= 1, s"`$word` sites: " + hits.mkString(", "))
    }
  }
}
