package graft

import graft.core.Scratch
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class ScratchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("sealedIn: the sealed frame outlives its deleted dirs") {
    var seen = Seq.empty[String]
    val out = Scratch.sealedIn("graft_scratch_a", "graft_scratch_b") { dirs =>
      seen = dirs
      spark.range(0, 50).toDF("id").write.parquet(s"${dirs(0)}/t")
      Files.writeString(Paths.get(dirs(1), "marker"), "x")
      spark.read.parquet(s"${dirs(0)}/t").filter("id % 2 = 0")
    }
    assert(seen.size == 2)
    assert(seen.map(Paths.get(_).getFileName.toString.take(15)) ==
      Seq("graft_scratch_a", "graft_scratch_b"))
    seen.foreach(d => assert(!Files.exists(Paths.get(d)), d))
    assert(out.count() == 25)
    assert(out.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 600L)
  }

  test("sealedIn: a throwing body reaches the caller unchanged, dirs deleted") {
    var seen = Seq.empty[String]
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Scratch.sealedIn("graft_scratch_t") { dirs =>
        seen = dirs
        Files.createDirectories(Paths.get(dirs.head, "a", "b"))
        Files.writeString(Paths.get(dirs.head, "a", "b", "f"), "x")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(seen.size == 1)
    assert(!Files.exists(Paths.get(seen.head)))
  }
}
