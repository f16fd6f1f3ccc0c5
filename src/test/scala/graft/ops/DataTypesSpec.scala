package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DataTypesSpec extends SparkSpec {

  test("extractDataType: uri object") {
    assert(DataTypes.extractDataType("<http://x>").toSeq === Seq("<http://x>", "<uri>"))
  }

  test("extractDataType: typed literal splits at ^^") {
    assert(DataTypes.extractDataType("\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>").toSeq
      === Seq("\"5\"", "<http://www.w3.org/2001/XMLSchema#integer>"))
  }

  test("extractDataType: plain literal has no datatype slot") {
    assert(DataTypes.extractDataType("\"x\"").toSeq === Seq("\"x\""))
  }

  test("withDataTypeExact matches the scala path on the split edge cases") {
    val spark2 = spark
    import spark2.implicits._
    // embedded `^` and a trailing `^^` are where a split at the last `^^`
    // would diverge; the plain literal exercises `get` on a 1-element array
    val inputs = Seq(
      "<http://x>",
      "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>",
      "\"plain\"",
      "\"x^^y^z\"",
      "\"a\"^^",
      "\"a@b\"@en")
    val exact = DataTypes.withDataTypeExact(
      inputs.map(o => ("<s>", "<p>", o, "en")).toDF("s", "p", "o", "lang"))
      .select(col("v"), col("t")).as[(String, String)].collect()
    inputs.zip(exact).foreach { case (in, (v, t)) =>
      val ref = DataTypes.extractDataType(in)
      val refT = ref.lift(1).filter(DataTypes.supportedDataTypes.contains)
        .getOrElse(DataTypes.XsdString)
      assert(v === ref(0), s"value for $in")
      assert(t === refT, s"type for $in")
    }
  }

  test("coerce: unsupported and missing datatypes become xsd:string") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq(Some("<http://ex/custom>"), None, Some(DataTypes.XsdDate))
      .toDF("t").select(DataTypes.coerce(col("t"))).as[String].collect()
    assert(out === Array(DataTypes.XsdString, DataTypes.XsdString, DataTypes.XsdDate))
  }

  test("disambiguate keeps only winning-type rows and drops negative dates") {
    val spark2 = spark
    import spark2.implicits._
    val triples = Seq(
      ("<a>", "<p1>", "\"1\"^^<http://www.w3.org/2001/XMLSchema#integer>", "en"),
      ("<b>", "<p1>", "\"2\"^^<http://www.w3.org/2001/XMLSchema#integer>", "en"),
      ("<c>", "<p1>", "\"x\"", "en"), // loses: string is minority for p1
      ("<d>", "<p2>", "\"-44\"^^<http://www.w3.org/2001/XMLSchema#date>", "en"),
      ("<e>", "<p2>", "\"2001\"^^<http://www.w3.org/2001/XMLSchema#date>", "en"),
      ("<f>", "<p2>", "\"2002\"^^<http://www.w3.org/2001/XMLSchema#date>", "en")
    ).toDF("s", "p", "o", "lang")
    val withTypes = DataTypes.withDataTypeExact(triples)
    val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
    val out = DataTypes.disambiguate(withTypes, winning).select("s").as[String].collect().sorted
    assert(out === Array("<a>", "<b>", "<e>", "<f>"))
  }
}
