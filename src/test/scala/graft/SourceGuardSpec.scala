package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Each concern keeps its one home in `src/main/scala`: sessions are built
  * only by `GraftSession`, session conf is set or unset only by
  * `ConfScope`, `Similarity` states its top-k window and its IVF list
  * choice once each, and the query registry stages temp dirs only
  * through `Scratch` and drives memory-sink replays only through
  * `Replay`, `Bench` and `Verify` read and write JSON only through
  * json4s (no regex reads JSON back, no JSON is built by `mkString`),
  * the tmp-plus-rename pointer protocol (`Options.Rename`) lives only
  * in `PointerFile`, and snapshots have one layout: neither `Snapshots`
  * nor the query registry reads or writes the whole `manifest/` dir as
  * one parquet log. A hand-rolled copy elsewhere fails here.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def offenders(pattern: String, home: String): Seq[String] = {
    val re = pattern.r
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getFileName.toString == home)
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString)
      .toSeq.sorted
    finally files.close()
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(Files.isDirectory(root))
    assert(offenders("""SparkSession\s*\.\s*builder""", "GraftSession.scala").isEmpty)
  }

  test("conf.set / conf.unset appear only in ConfScope") {
    assert(offenders("""conf\s*\.\s*(set|unset)\s*\(""", "ConfScope.scala").isEmpty)
  }

  private def occurrences(file: String, literal: String): Int =
    java.util.regex.Pattern.quote(literal).r
      .findAllMatchIn(Files.readString(root.resolve(file))).size

  test("Similarity has one top-k window and one IVF list choice") {
    val sim = "graft/operators/Similarity.scala"
    assert(occurrences(sim, "row_number()") == 1)
    assert(occurrences(sim, "orderBy(desc(\"c_sim\")") == 1)
  }

  test("SparkEntry stages temp dirs only through Scratch and streams only through Replay") {
    val entry = "graft/SparkEntry.scala"
    assert(occurrences(entry, "createTempDirectory") == 0)
    assert(occurrences(entry, "Files.walk") == 0)
    assert(occurrences(entry, "format(\"memory\")") == 0)
  }

  test("Bench and Verify read and write JSON only through json4s") {
    for {
      file <- Seq("graft/Bench.scala", "graft/Verify.scala")
      literal <- Seq("findFirstMatchIn", "findAllMatchIn", "mkString(\"{\"",
        "mkString(\"[\", \",\", \"]\")")
    } assert(occurrences(file, literal) == 0, s"$literal in $file")
  }

  test("the pointer file's rename lives only in PointerFile") {
    assert(offenders("""Options\.Rename""", "PointerFile.scala").isEmpty)
  }

  test("Snapshots has one layout: no parquet log over the whole manifest dir") {
    for (file <- Seq("graft/sources/Snapshots.scala", "graft/SparkEntry.scala"))
      assert(occurrences(file, "parquet(s\"$root/manifest\")") == 0, file)
  }
}
