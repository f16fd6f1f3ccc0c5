package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way an engine sink replaces an output directory.
  *
  * The reference writes every sink with a static `.mode(Overwrite)`
  * straight onto the target (DbpediaDgraphSparkApp.scala:491-524). Spark
  * deletes the target before that job runs, so a rerun that fails at
  * commit leaves no readable output. Here a sink writes into a fresh
  * staging dir instead, and only a written staging dir replaces the old
  * output, by metadata-only renames: no sink pays an extra Spark job.
  *
  *  - [[publish]]: move one written dir onto its target, setting the old
  *    output aside until the new one is in place (RdfFailureSpec).
  *  - [[replace]]: write one sink into fresh staging, then [[publish]] it.
  *    A write that throws leaves the old output untouched and no staging
  *    dir behind (PublishSpec).
  *
  * Staging and aside dirs are `.`-prefixed siblings of the target, so
  * Spark's readers skip them.
  */
object Publish {

  /** Move `src` onto `target`. Existing output is renamed to `aside`, not
    * deleted, until the new data is in place: deleting first would destroy
    * the old output AND strand the new one on a failed rename. A missing
    * `src` (a sink with no surviving rows) deletes the old output, so a
    * rerun never reads back a PREVIOUS run's files from the same path.
    * `rename` reports several FS failure modes as `false`, not an
    * exception — silently reading back an empty or stale output must not
    * pass for success, so a failed rename throws. */
  def publish(fs: FileSystem, src: Path, target: Path, aside: Path): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true) // remnant of a past crash
    val hadOld = fs.exists(target)
    if (hadOld)
      require(fs.rename(target, aside), s"publish: set-aside $target -> $aside failed")
    if (fs.exists(src) && !fs.rename(src, target)) {
      // restore: leave the OLD output intact — and if the restore ITSELF
      // fails, say where the only surviving copy is stranded so the data
      // stays recoverable by hand instead of hidden behind a dot-path
      val restored = !hadOld || fs.rename(aside, target)
      throw new IllegalArgumentException(
        s"publish: rename $src -> $target failed" +
          (if (restored) "" else s"; restore also failed — old output stranded at $aside"))
    }
    if (hadOld) fs.delete(aside, true)
  }

  /** Replace the directory at `target` with what `write` writes into the
    * staging path it is given (a path that does not exist yet, so the
    * writer needs no save mode). If `write` throws, the staging dir is
    * deleted, the old output is left as it was, and the exception is
    * rethrown; otherwise the staging dir is [[publish]]ed onto `target`. */
  def replace(spark: SparkSession, target: String)(write: String => Unit): Unit = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.makeQualified(new Path(target))
    val staging = new Path(dir.getParent, s".staging_${dir.getName}")
    stage(fs, staging)(write(staging.toString))
    publish(fs, staging, dir, new Path(dir.getParent, s".old_${dir.getName}"))
  }

  /** Run `write` into `staging` after clearing a crash remnant there; if it
    * throws, delete whatever it left and rethrow. */
  private[io] def stage(fs: FileSystem, staging: Path)(write: => Unit): Unit = {
    fs.delete(staging, true)
    try write
    catch { case e: Throwable => fs.delete(staging, true); throw e }
  }
}
