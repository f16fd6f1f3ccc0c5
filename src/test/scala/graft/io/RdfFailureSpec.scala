package graft.io

import graft.SparkSpec
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** One-shot rename-failure injection for [[Rdf.writeAll]]'s set-aside /
  * restore protocol. `fs.rename` reports most FS failures as a `false`
  * return, not an exception, so the protocol's invariants can only be
  * proven by making rename LIE — a local-FS subclass registered under its
  * own `faulty:` scheme that fails the next N renames whose destination
  * matches an armed suffix. The writeAll staging write itself never
  * renames onto a `<name>.rdf` destination, so arming before the call
  * only trips the final publish (or restore) rename.
  */
class FaultyRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (FaultyRenameFileSystem.shouldFail(dst)) false
    else super.rename(src, dst)
  }
}

object FaultyRenameFileSystem {
  @volatile private var failDstSuffix: String = null
  @volatile private var failuresLeft: Int = 0

  /** Fail the next `count` renames whose destination ends with `suffix`. */
  def arm(suffix: String, count: Int): Unit = synchronized {
    failDstSuffix = suffix; failuresLeft = count
  }
  def disarm(): Unit = synchronized { failDstSuffix = null; failuresLeft = 0 }

  private def shouldFail(dst: Path): Boolean = synchronized {
    val hit = failDstSuffix != null && failuresLeft > 0 &&
      dst.toUri.getPath.endsWith(failDstSuffix)
    if (hit) failuresLeft -= 1
    hit
  }
}

class RdfFailureSpec extends SparkSpec {

  private def faultyBase(): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faulty.impl", classOf[FaultyRenameFileSystem].getName)
    "faulty://" + Files.createTempDirectory("graft-rdf-fail").toString
  }

  private def triples(rows: (String, String, String, String)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("s", "p", "o", "lang")
  }

  private def lines(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] = {
    val spark2 = spark
    import spark2.implicits._
    df.orderBy("s", "p", "o").as[(String, String, String, String)].collect().toSeq
  }

  test("writeAll publish-rename failure restores the OLD output and keeps staging") {
    val base = faultyBase()
    val old = triples(("<old>", "<p>", "<o>", "de"))
    assert(Rdf.writeAll(Seq("aa" -> old), base)("aa").count() === 1)
    FaultyRenameFileSystem.arm("/aa.rdf", 1) // publish fails once; restore succeeds
    try {
      val e = intercept[IllegalArgumentException] {
        Rdf.writeAll(Seq("aa" -> triples(("<new>", "<p>", "<o2>", "de"))), base)
      }
      assert(e.getMessage.contains("rename"))
      assert(!e.getMessage.contains("stranded"), "restore succeeded; no stranding")
    } finally FaultyRenameFileSystem.disarm()
    // old output intact and readable at the original path
    assert(lines(Rdf.read(spark, s"$base/aa.rdf")) ===
      Seq(("<old>", "<p>", "<o>", "de")))
    // the NEW data is still present in staging — nothing was destroyed
    val staged = spark.read.text(s"$base/.rdf_fused_staging/dataset=aa")
    assert(staged.count() === 1)
  }

  test("writeAll names the stranded aside path when the restore ALSO fails") {
    val base = faultyBase()
    val old = triples(("<old>", "<q>", "<o>", "fr"))
    assert(Rdf.writeAll(Seq("bb" -> old), base)("bb").count() === 1)
    FaultyRenameFileSystem.arm("/bb.rdf", 2) // publish AND restore fail
    try {
      val e = intercept[IllegalArgumentException] {
        Rdf.writeAll(Seq("bb" -> triples(("<new>", "<q>", "<o2>", "fr"))), base)
      }
      assert(e.getMessage.contains("stranded at"))
      assert(e.getMessage.contains(".rdf_old_bb"), s"message names the aside path: ${e.getMessage}")
    } finally FaultyRenameFileSystem.disarm()
    // the only copy of the old output survives at the named aside path
    assert(lines(Rdf.read(spark, s"$base/.rdf_old_bb")) ===
      Seq(("<old>", "<q>", "<o>", "fr")))
  }

  test("writeAll cleans a crash-remnant aside dir and publishes normally") {
    val base = faultyBase()
    // remnant of a hypothetical past crash: stale aside + live old output
    // (both laid down in one call: a later writeAll of cc would already
    // clean the remnant)
    val laid = Rdf.writeAll(Seq(
      "stale" -> triples(("<stale>", "<p>", "<x>", "de")),
      "cc" -> triples(("<old>", "<p>", "<y>", "de"))), base)
    assert(laid("stale").count() === 1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(s"$base/stale.rdf"), new Path(s"$base/.rdf_old_cc")))
    assert(laid("cc").count() === 1)

    val out = Rdf.writeAll(Seq("cc" -> triples(("<new>", "<p>", "<z>", "de"))), base)
    assert(lines(out("cc")) === Seq(("<new>", "<p>", "<z>", "de")))
    assert(!fs.exists(new Path(s"$base/.rdf_old_cc")), "remnant and fresh aside both cleaned")
    assert(!fs.exists(new Path(s"$base/.rdf_fused_staging")), "staging cleaned on success")
  }
}
