package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Main sources stay text-clean: no raw C0 control bytes (tab/LF/CR
  * excepted). A literal delimiter byte (e.g. the BPE unit separator
  * U+001F) makes grep/diff treat a source file as binary — encode such
  * characters as `"\u001F"` escapes instead. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  test("no raw control bytes in any src/ scala file") {
    val roots = Seq("src/main/scala", "src/test/scala")
      .map(Paths.get(_)).filter(Files.exists(_))
    val offenders = roots.flatMap(scalaFiles).flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val bad = bytes.zipWithIndex.collectFirst {
        case (b, i) if b >= 0 && b < 0x20 &&
            b != '\t' && b != '\n' && b != '\r' =>
          (p.toString, i, b)
      }
      bad
    }
    assert(offenders.isEmpty,
      s"raw control bytes found: ${offenders.mkString(", ")}")
  }

  test("the query harness memoizes only through graft.util.Artifacts") {
    val harness = scalaFiles(Paths.get("src/main/scala/graft/queries")) :+
      Paths.get("src/main/scala/graft/Tables.scala")
    val offenders = harness.filter { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      src.contains("TrieMap") || src.contains("getOrElseUpdate")
    }
    assert(offenders.isEmpty,
      s"hand-rolled memo in: ${offenders.mkString(", ")}")
  }
}
