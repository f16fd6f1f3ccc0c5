package graft.io

import graft.SparkSpec
import java.nio.file.Files

class ParquetIOSpec extends SparkSpec {

  /** One dataset through the RDF sink: `dir/<name>.rdf`, read back. */
  private def writeOne(df: org.apache.spark.sql.DataFrame, dir: String, name: String) =
    Rdf.writeAll(Seq(name -> df), dir)(name)

  test("missing input falls back to an empty triple relation with schema") {
    val df = ParquetIO.readTriples(spark, "/tmp/graft-does-not-exist-xyz")
    assert(df.columns.toSeq === Seq("s", "p", "o", "lang"))
    assert(df.count() === 0)
  }

  test("writeTriples produces lang= partition dirs with sorted rows") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-pq").toString
    val df = Seq(
      ("<b>", "<p>", "<o1>", "de"), ("<a>", "<p>", "<o2>", "de"),
      ("<c>", "<q>", "<o3>", "fr")).toDF("s", "p", "o", "lang")
    ParquetIO.writeTriples(df, s"$dir/out")
    val dirs = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs === Array("lang=de", "lang=fr"))
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 3)
    // rows inside the de partition file are sorted by s
    val de = spark.read.parquet(s"$dir/out/lang=de").select("s").as[String].collect()
    assert(de === Array("<a>", "<b>"))
  }

  test("partitionValues lists lang= directory names without scanning data") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-pv").toString
    val df = Seq(
      ("<a>", "<p>", "<o1>", "fr"), ("<b>", "<p>", "<o2>", "de"),
      ("<c>", "<q>", "<o3>", "en")).toDF("s", "p", "o", "lang")
    ParquetIO.writeTriples(df, s"$dir/out")
    assert(ParquetIO.partitionValues(spark, s"$dir/out", "lang") === Seq("de", "en", "fr"))
    assert(ParquetIO.partitionValues(spark, s"$dir/absent", "lang") === Seq.empty)
  }

  test("rdf write of an empty frame clears stale output from a previous run") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-rdf-stale").toString
    val df = Seq(("<s1>", "<p>", "<o>", "de")).toDF("s", "p", "o", "lang")
    assert(writeOne(df, dir, "out").count() === 1)
    val empty = df.where($"s" === "<nope>")
    assert(writeOne(empty, dir, "out").count() === 0) // not stale rows
  }

  test("rdf write/read round-trip preserves triples and lang partitioning") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-rdf").toString
    val df = Seq(
      ("<s1>", "<p>", "\"a b\"", "de"),
      ("<s2>", "<bad@pred>", "<o>", "de"), // dropped: invalid predicate
      ("<s3>", "<q>", "<o>", "fr")).toDF("s", "p", "o", "lang")
    val back = writeOne(df, dir, "out")
    val rows = back.orderBy("s").as[(String, String, String, String)].collect()
    assert(rows === Array(
      ("<s1>", "<p>", "\"a b\"", "de"),
      ("<s3>", "<q>", "<o>", "fr")))
  }

  test("fused writeAll equals per-dataset writes: layout, sort, filter, empty handling") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq(
      ("<s2>", "<p>", "<o2>", "de"),
      ("<s1>", "<p>", "<o1>", "de"),
      ("<s1>", "<bad@p>", "<x>", "de"), // invalid predicate: dropped
      ("<s9>", "<q>", "<o9>", "fr")).toDF("s", "p", "o", "lang")
    val b = Seq(("<t1>", "<r>", "\"v w\"", "en")).toDF("s", "p", "o", "lang")
    val none = a.where($"s" === "<nope>")

    val dirFused = Files.createTempDirectory("graft-rdf-fused").toString
    val dirSolo = Files.createTempDirectory("graft-rdf-solo").toString
    // pre-existing output for the EMPTY dataset must be cleared, like a
    // one-dataset write
    assert(writeOne(b, dirFused, "cc").count() === 1)
    val fused = Rdf.writeAll(
      Seq("aa" -> a, "bb" -> b, "cc" -> none), dirFused)
    val solo = Seq("aa" -> a, "bb" -> b, "cc" -> none)
      .map { case (n, df) => n -> writeOne(df, dirSolo, n) }.toMap
    for (n <- Seq("aa", "bb", "cc")) {
      val f = fused(n).orderBy("s", "p", "o")
        .as[(String, String, String, String)].collect().toSeq
      val s = solo(n).orderBy("s", "p", "o")
        .as[(String, String, String, String)].collect().toSeq
      assert(f === s, s"dataset $n: fused read-back diverges from the one-dataset write")
    }
    assert(fused("cc").isEmpty) // the stale cc.rdf was cleared
    // identical directory layout: <name>.rdf/lang=<code>, gzip text files,
    // no staging remnants
    val root = new java.io.File(dirFused)
    assert(root.listFiles().map(_.getName).sorted.toSeq === Seq("aa.rdf", "bb.rdf"))
    val aaLangs = new java.io.File(dirFused, "aa.rdf").listFiles()
      .map(_.getName).filter(_.startsWith("lang=")).sorted.toSeq
    assert(aaLangs === Seq("lang=de", "lang=fr"))
    val gzFiles = new java.io.File(s"$dirFused/aa.rdf/lang=de").listFiles()
      .map(_.getName).filter(_.endsWith(".txt.gz"))
    assert(gzFiles.nonEmpty)
    // within-file sort: lines ordered by (p, s, o)
    val src = scala.io.Source.fromInputStream(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(
        s"$dirFused/aa.rdf/lang=de/${gzFiles.head}")))
    val lines = try src.getLines().toList finally src.close()
    assert(lines === lines.sorted)
    assert(lines === List("<s1> <p> <o1> .", "<s2> <p> <o2> ."))
  }
}
