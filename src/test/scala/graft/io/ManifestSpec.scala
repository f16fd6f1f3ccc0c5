package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ManifestSpec extends SparkSpec {

  test("manifest covers every data file with exact row counts and FS sizes") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    (1L to 100L).map(i => (i, s"row $i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "payload", "part")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val m = Manifest.forParquetDir(spark, dir)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    // one manifest row per data file, all partitions covered
    val files = Manifest.listDataFiles(spark, dir)
    assert(m.length === files.length)
    assert(m.exists(_._1.startsWith("part=a/")) && m.exists(_._1.startsWith("part=b/")))
    // row counts sum to the input; sizes match the FS byte-for-byte
    assert(m.map(_._3).sum === 100L)
    val sizeByPath = files.toMap
    m.foreach { case (rel, bytes, _, _) =>
      val abs = sizeByPath.keys.find(_.endsWith("/" + rel)).get
      assert(bytes === sizeByPath(abs) && bytes > 0)
    }
  }

  test("content_sum is row-order-insensitive but catches any changed row") {
    val spark2 = spark
    import spark2.implicits._
    val d1 = java.nio.file.Files.createTempDirectory("graft-man-a").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-man-b").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft-man-c").toString
    val rows = (1L to 50L).map(i => (i, s"v$i"))
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(d1)
    rows.reverse.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(d2)
    rows.map { case (i, v) => (i, if (i == 7) "TAMPERED" else v) }
      .toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(d3)
    def sum(dir: String): Long =
      Manifest.forParquetDir(spark, dir).agg(org.apache.spark.sql.functions.sum("content_sum"))
        .head().getLong(0)
    assert(sum(d1) === sum(d2)) // reordering leaves the checksum alone
    assert(sum(d1) !== sum(d3)) // one changed row flips it
  }

  test("writeForParquetDir lands _manifest.jsonl without breaking readers") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-man-w").toString
    (1L to 20L).map(i => (i, s"p$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val m = Manifest.writeForParquetDir(spark, dir)
    assert(m.count() >= 1)
    // the manifest file exists and each line round-trips as JSON (read as
    // raw lines: the underscore prefix hides it from Spark's file readers,
    // which is exactly the point)
    val manifest = new java.io.File(s"$dir/_manifest.jsonl")
    assert(manifest.exists())
    val lines = java.nio.file.Files.readAllLines(manifest.toPath)
    val parsed = spark.read.json(spark.createDataset(lines.toArray.map(_.toString)))
    assert(parsed.count() === m.count())
    assert(parsed.columns.sorted === Array("bytes", "content_sum", "file", "n_rows"))
    // an underscore-prefixed file is invisible to the parquet reader
    assert(spark.read.parquet(dir).count() === 20L)
  }

  test("verifyParquetDir flags missing, extra, and tampered files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-man-v").toString
    (1L to 90L).map(i => (i, s"payload $i")).toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    Manifest.writeForParquetDir(spark, dir)
    // clean restore: every file ok
    val clean = Manifest.verifyParquetDir(spark, dir)
    assert(clean.where(col("status") =!= "ok").count() === 0L)
    val files = Manifest.listDataFiles(spark, dir).map(_._1).sorted
    assert(clean.count() === files.length.toLong)
    // sabotage: drop one file, replace another with a VALID parquet of
    // different rows (a re-run overwrote it — still readable, so the
    // audit reports a per-file status; an unreadably-truncated file
    // fails the scan itself, the documented coarser detection), and
    // smuggle in an extra
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    val forged = java.nio.file.Files.createTempDirectory("graft-man-f").toString
    (1000L to 1009L).map(i => (i, s"forged $i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(forged)
    val forgedPart = Manifest.listDataFiles(spark, forged).head._1
    // Hadoop's LOCAL fs keeps .<name>.crc sidecars; scrub the sabotaged
    // files' sidecars or the checksummed local reader rejects the forgery
    // before the audit sees it (cluster filesystems have no sidecars)
    def dropCrc(abs: String): Unit = {
      val f = new java.io.File(abs)
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    JF.delete(Paths.get(files(0))); dropCrc(files(0))
    JF.copy(Paths.get(forgedPart), Paths.get(files(2)),
      StandardCopyOption.REPLACE_EXISTING); dropCrc(files(2))
    JF.copy(Paths.get(forgedPart),
      Paths.get(new java.io.File(dir, "smuggled.parquet").getPath))
    val verdict = Manifest.verifyParquetDir(spark, dir)
      .select("file", "status").as[(String, String)].collect().toMap
    def rel(abs: String) = abs.substring(abs.lastIndexOf('/') + 1)
    assert(verdict(rel(files(0))) === "missing")
    assert(verdict(rel(files(1))) === "ok")
    // files(2) now carries files(1)'s bytes — size and content both
    // differ from the manifest; the cascade reports the first mismatch
    assert(Set("bytes_mismatch", "content_mismatch", "rows_mismatch")
      .contains(verdict(rel(files(2)))))
    assert(verdict("smuggled.parquet") === "extra")
    // the alarm list is exactly the three sabotaged files
    assert(verdict.count(_._2 != "ok") === 3)
  }

  test("text-dir manifests flag dropped, tampered, and smuggled files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-man-t").toString
    (1L to 60L).map(i => s"line $i").toDF("value")
      .repartition(3).write.mode("overwrite").text(dir)
    Manifest.writeForTextDir(spark, dir)
    assert(Manifest.verifyTextDir(spark, dir)
      .where(col("status") =!= "ok").count() === 0L)
    import java.nio.file.{Files => JF, Paths}
    val files = Manifest.listDataFiles(spark, dir).map(_._1).sorted
    def dropCrc(abs: String): Unit = {
      val f = new java.io.File(abs)
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    JF.delete(Paths.get(files(0))); dropCrc(files(0))
    // tamper one byte in place (same length: only content_sum can catch it)
    val raf = new java.io.RandomAccessFile(files(1), "rw")
    raf.seek(0); raf.writeByte('X'); raf.close(); dropCrc(files(1))
    JF.write(Paths.get(new java.io.File(dir, "smuggled.txt").getPath),
      "alien line\n".getBytes("UTF-8"))
    val verdict = Manifest.verifyTextDir(spark, dir)
      .select("file", "status").as[(String, String)].collect().toMap
    def rel(abs: String) = abs.substring(abs.lastIndexOf('/') + 1)
    assert(verdict(rel(files(0))) === "missing")
    assert(verdict(rel(files(1))) === "content_mismatch")
    assert(verdict(rel(files(2))) === "ok")
    assert(verdict("smuggled.txt") === "extra")
    assert(verdict.count(_._2 != "ok") === 3)
  }

  test("a directory with a space in its name audits clean (URI decode)") {
    val spark2 = spark
    import spark2.implicits._
    // input_file_name() URI-encodes the space (%20); the FS listing does
    // not — an undecoded join reads every file as missing+extra
    val parent = java.nio.file.Files.createTempDirectory("graft-man-sp")
    val dir = parent.resolve("with space").toString
    (1L to 30L).map(i => (i, s"row $i")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Manifest.writeForParquetDir(spark, dir)
    val verdict = Manifest.verifyParquetDir(spark, dir)
    assert(verdict.count() >= 2L)
    assert(verdict.where(col("status") =!= "ok").count() === 0L)
  }

  test("zero-row data files get manifest rows and are audited") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-man-z").toString
    (1L to 40L).map(i => (i, s"row $i")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Manifest.writeForParquetDir(spark, dir)
    // a zero-row parquet file (schema only) contributes nothing to the
    // distributed scan — the FS-listing left join must still see it
    val zdir = java.nio.file.Files.createTempDirectory("graft-man-z0").toString
    Seq.empty[(Long, String)].toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(zdir)
    val zeroPart = Manifest.listDataFiles(spark, zdir).head._1
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    val files = Manifest.listDataFiles(spark, dir).map(_._1).sorted
    def dropCrc(abs: String): Unit = {
      val f = new java.io.File(abs)
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    // substitute a real data file with the zero-row one; smuggle another
    JF.copy(Paths.get(zeroPart), Paths.get(files(0)),
      StandardCopyOption.REPLACE_EXISTING); dropCrc(files(0))
    JF.copy(Paths.get(zeroPart),
      Paths.get(new java.io.File(dir, "smuggled0.parquet").getPath))
    val verdict = Manifest.verifyParquetDir(spark, dir)
      .select("file", "status").as[(String, String)].collect().toMap
    def rel(abs: String) = abs.substring(abs.lastIndexOf('/') + 1)
    assert(Set("bytes_mismatch", "rows_mismatch", "content_mismatch")
      .contains(verdict(rel(files(0)))))
    assert(verdict(rel(files(1))) === "ok")
    assert(verdict("smuggled0.parquet") === "extra")
    assert(verdict.count(_._2 != "ok") === 2)
  }

  test("a manifest write that throws leaves nothing cached or persisted") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-man-x").toString
    (1L to 20L).map(i => s"line $i").toDF("value")
      .repartition(2).write.mode("overwrite").text(dir)
    // a non-empty directory where the manifest file goes: the scan runs,
    // then creating the file fails
    val blocker = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_manifest.jsonl"))
    java.nio.file.Files.write(blocker.resolve("x"), Array[Byte](1))
    val before = materializations
    intercept[java.io.IOException](Manifest.writeForTextDir(spark, dir))
    assert(materializations === before)
  }
}
