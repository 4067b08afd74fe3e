package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.compact
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (unset for the driver's full runs): dump
    // only the named queries, e.g. GRAFT_VERIFY_ONLY=e14_pq_codes,e15_sign_knn
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a query that throws writes no output directory; its name goes to
    // failed_queries.json so oracle_check.py can fail it even when it
    // has no oracle SQL
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    writeJson(outDir,
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) },
      failed)
    spark.stop()
  }

  /** `oracle_sql.json` (query → DuckDB SQL) and `failed_queries.json`.
    * json4s escapes every control char: a tab or CR in builder-authored
    * SQL must not make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  private[graft] def writeJson(outDir: String, oracle: Iterable[(String, String)],
      failed: Seq[String]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      compact(JObject(oracle.map { case (k, v) => k -> JString(v) }.toList)))
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"),
      compact(JArray(failed.map(JString(_)).toList)))
  }
}
