package graft.ops

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RDF object datatype extraction, coercion and disambiguation
  * (reference: DbpediaDgraphSparkApp.scala:187-222, 544-553).
  *
  * The object of a triple is split into a value `v` and a datatype `t`:
  *  - `<uri>` objects        -> (`<uri>`, `"<uri>"`)
  *  - `"v"^^<type>` literals -> (`"v"`, `<type>`)   (split at the LAST `^^`,
  *                              embedded `^` characters stay in the value)
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

  /** Reference-exact extraction as a Scala function (parity path, incl.
    * Java `split` edge cases on pathological values like a trailing `^^`).
    * Reference: extractDataType, DbpediaDgraphSparkApp.scala:544-553. */
  def extractDataType(value: String): Array[String] =
    if (value.startsWith("<")) Array(value, Uri)
    else if (value.contains("^^")) {
      val fields = value.split("\\^")
      Array(fields.dropRight(2).mkString("^"), fields.last)
    } else Array(value)

  /** Native-expression extraction: returns a `struct<v, t>` column.
    *
    * Spark-first replacement for the reference's Scala UDF (which it has to
    * mark non-deterministic to stop Catalyst from double-evaluating it,
    * reference :195-196). A native expression stays in whole-stage codegen
    * and needs no such trick. Splits at the last `^^` so embedded `^` stays
    * in the value, like the reference's split/mkString dance. */
  def extractDataTypeNative(o: Column): Column = {
    val typed = o.rlike("\\^\\^[^^]*$") // has a ^^ separator (last one wins)
    when(o.startsWith("<"), struct(o.as("v"), lit(Uri).as("t")))
      .when(typed, struct(
        regexp_extract(o, "^(.*)\\^\\^[^^]*$", 1).as("v"),
        regexp_extract(o, "\\^\\^([^^]*)$", 1).as("t")))
      .otherwise(struct(o.as("v"), lit(null.asInstanceOf[String]).as("t")))
  }

  /** Coerce unsupported datatypes (including null = no datatype) to
    * xsd:string (reference: DbpediaDgraphSparkApp.scala:203). */
  def coerce(t: Column): Column =
    when(t.isin(supportedDataTypes: _*), t).otherwise(XsdString)

  /** `(s, p, o, lang)` -> `(s, p, v, t, lang)` with coerced datatype
    * (reference: DbpediaDgraphSparkApp.scala:199-203). Native-expression
    * extraction — exact on real-world objects; see [[withDataTypeExact]]
    * for the path that also reproduces the reference's pathological-input
    * behavior. */
  def withDataType(triples: DataFrame): DataFrame =
    triples
      .withColumn("o+t", extractDataTypeNative(col("o")))
      .select(col("s"), col("p"), col("o+t.v").as("v"), col("o+t.t").as("t"), col("lang"))
      .withColumn("t", coerce(col("t")))

  /** Reference-exact variant used by the parity pipeline: a Scala UDF with
    * the reference's own split semantics (including embedded-`^` and
    * trailing-`^^` edge cases) marked non-deterministic exactly like the
    * reference so Catalyst evaluates it once per row (reference :195-196).
    * Queries under the SQL-oracle gate use [[withDataType]], whose
    * semantics the oracle replicates. */
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
