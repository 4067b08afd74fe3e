package graft.core

import graft.operators.CacheScope
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Scratch directories for queries that stage data on local disk (lake
  * tables, disk indexes, sink outputs, checkpoints) before they answer.
  * The one home of that lifecycle in the engine:
  * `sealedIn(prefixes: _*) { case Seq(a, b) => ... }` creates one temp
  * dir per prefix, runs the body on their paths, seals the body's result
  * with [[CacheScope.sealAfter]] and then deletes every dir, children
  * before parents, on every exit path. The seal runs before the delete,
  * so the returned frame never reads a deleted dir.
  */
private[graft] object Scratch {

  def sealedIn(prefixes: String*)(body: Seq[String] => DataFrame): DataFrame = {
    var dirs = List.empty[Path] // deleted in the finally, even on a failed create
    try {
      prefixes.foreach(p => dirs ::= Files.createTempDirectory(p))
      CacheScope.sealAfter(body(dirs.reverse.map(_.toString)))
    } finally dirs.foreach(delete)
  }

  private def delete(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
