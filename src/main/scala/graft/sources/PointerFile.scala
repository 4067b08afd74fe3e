package graft.sources

import org.apache.spark.sql.SparkSession

/** A POINTER FILE: a tiny text file naming the live state of a table or
  * a consumer — the lake family's one commit primitive (the Delta
  * `_last_checkpoint` / Iceberg `version-hint` pattern). [[Snapshots]]'
  * and [[LakeTable]]'s `manifest/_current` and the change-feed offsets
  * (`_offset`, `_offset_gen`) all live in one.
  *
  * A reader sees the old value or the new one, never a torn write:
  * [[write]] stages the value in a uniquely named tmp file beside the
  * pointer (so concurrent writers never share a tmp path), then
  * publishes it with ONE FileContext rename with OVERWRITE — atomic on
  * HDFS and POSIX. The tmp name starts with `_`, so a parquet scan of
  * the directory never lists it.
  */
private[graft] object PointerFile {

  /** The pointer's value, trimmed; None when the file does not exist. */
  def read(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf)
      finally in.close()
      Some(new String(buf, "UTF-8").trim)
    }
  }

  /** Point `path` at `value`: tmp file, then one atomic rename. */
  def write(spark: SparkSession, path: String, value: String): Unit = {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val fc = FileContext.getFileContext(dst.getFileSystem(conf).getUri, conf)
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dst.getParent, s"${dst.getName}_tmp_$tok")
    fc.mkdir(
      dst.getParent,
      org.apache.hadoop.fs.permission.FsPermission.getDirDefault, true)
    val out = fc.create(
      tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(value.getBytes("UTF-8"))
    finally out.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
