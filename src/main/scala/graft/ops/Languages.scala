package graft.ops

/** Language-set handling (reference: DbpediaDgraphSparkApp.scala:96-110). */
object Languages {

  /** Object-side language set: the requested languages, or all observed
    * languages, plus the `dbpedia` quirk host when `en` is selected
    * (English URIs have host `dbpedia.org`, so [[Columns.nodeLang]] yields
    * `dbpedia` for them). Reference: DbpediaDgraphSparkApp.scala:96-102.
    *
    * `allLanguages` is by-name: only evaluated when no explicit language
    * list was requested. The pipeline supplies it from the `lang=`
    * partition-directory listing ([[graft.io.ParquetIO.partitionValues]])
    * — an O(#languages) filesystem list, zero data read — where the
    * reference runs a distinct scan over the whole dataset
    * (DbpediaDgraphSparkApp.scala:104-110). */
  def objectLanguages(
      requested: Option[Seq[String]],
      allLanguages: => Seq[String]): Seq[String] =
    requested
      .getOrElse(allLanguages)
      .pipe(l => if (l.contains("en")) l ++ Seq("dbpedia") else l)

  private implicit class Pipe[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }
}
