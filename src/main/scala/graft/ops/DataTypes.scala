package graft.ops

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RDF object datatype extraction, coercion and disambiguation
  * (reference: DbpediaDgraphSparkApp.scala:187-222, 544-553).
  *
  * The object of a triple is split into a value `v` and a datatype `t`:
  *  - `<uri>` objects        -> (`<uri>`, `"<uri>"`)
  *  - `"v"^^<type>` literals -> (`"v"`, `<type>`)   (the reference's split
  *                              on `^`: the type is the last field, the
  *                              value all but the last two, re-joined)
  *  - plain literals         -> (`"v"`, null)
  *
  * Datatypes outside the supported set are coerced to xsd:string, and null
  * (no datatype) coerces too, because `isin` over a null is null ->
  * `otherwise` branch (reference :203).
  */
object DataTypes {

  val XsdString = "<http://www.w3.org/2001/XMLSchema#string>"
  val XsdDate = "<http://www.w3.org/2001/XMLSchema#date>"
  val Uri = "<uri>"

  /** Datatypes kept as-is; everything else becomes xsd:string
    * (reference: DbpediaDgraphSparkApp.scala:188-194). */
  val supportedDataTypes: Seq[String] = Seq(
    Uri,
    XsdDate,
    "<http://www.w3.org/2001/XMLSchema#double>",
    "<http://www.w3.org/2001/XMLSchema#integer>",
    XsdString)

  /** Reference-exact extraction as a Scala function, incl. the Java
    * `split` edge cases on pathological values like a trailing `^^` — the
    * kernel of [[withDataTypeExact]].
    * Reference: extractDataType, DbpediaDgraphSparkApp.scala:544-553. */
  def extractDataType(value: String): Array[String] =
    if (value.startsWith("<")) Array(value, Uri)
    else if (value.contains("^^")) {
      val fields = value.split("\\^")
      Array(fields.dropRight(2).mkString("^"), fields.last)
    } else Array(value)

  /** Coerce unsupported datatypes (including null = no datatype) to
    * xsd:string (reference: DbpediaDgraphSparkApp.scala:203). */
  def coerce(t: Column): Column =
    when(t.isin(supportedDataTypes: _*), t).otherwise(XsdString)

  /** `(s, p, o, lang)` -> `(s, p, v, t, lang)` with coerced datatype
    * (reference: DbpediaDgraphSparkApp.scala:195-203): [[extractDataType]]
    * as a Scala UDF, so the reference's own split semantics (including the
    * embedded-`^` and trailing-`^^` edge cases) hold, marked
    * non-deterministic exactly like the reference so Catalyst evaluates it
    * once per row (reference :195-196). The one datatype step: the
    * pipeline, the oracled queries and perfbench all run it. */
  def withDataTypeExact(triples: DataFrame): DataFrame = {
    val extractUdf = org.apache.spark.sql.functions.udf(extractDataType _).asNondeterministic()
    triples
      .withColumn("o+t", extractUdf(col("o")))
      // `get` (not getItem): the plain-literal case yields a 1-element
      // array whose missing datatype slot must read as null — Spark 4's
      // ANSI mode makes getItem(1) throw where Spark 3.0 returned null
      .select(col("s"), col("p"),
        get(col("o+t"), lit(0)).as("v"), get(col("o+t"), lit(1)).as("t"), col("lang"))
      .withColumn("t", coerce(col("t")))
  }

  /** Most frequent datatype per predicate (reference :206-212). */
  def mostFrequentTypePerPredicate(withTypes: DataFrame): DataFrame =
    Checkpoints.persist(TopK.argMaxPerGroup(withTypes, col("p"), col("t")))

  /** Keep only rows matching their predicate's winning datatype, drop
    * negative dates, and render the object back to RDF text
    * (reference: DbpediaDgraphSparkApp.scala:215-222). */
  def disambiguate(withTypes: DataFrame, winning: DataFrame): DataFrame =
    withTypes
      .join(broadcast(winning), Seq("p", "t"), "left_semi")
      .where(col("t") =!= XsdDate || !col("v").startsWith("\"-"))

  /** Render `(v, t)` back into a single RDF object string. */
  def renderObject(v: Column, t: Column): Column =
    when(t === Uri, v).otherwise(concat(v, lit("^^"), t))
}
