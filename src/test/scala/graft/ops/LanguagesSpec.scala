package graft.ops

import graft.SparkSpec

class LanguagesSpec extends SparkSpec {

  test("objectLanguages adds the dbpedia quirk host when en is selected") {
    assert(Languages.objectLanguages(Some(Seq("de", "en")), Seq.empty) === Seq("de", "en", "dbpedia"))
    assert(Languages.objectLanguages(Some(Seq("de")), Seq.empty) === Seq("de"))
    // requested languages short-circuit the observed-language listing
    assert(Languages.objectLanguages(Some(Seq("de")),
      sys.error("listing must not be evaluated")) === Seq("de"))
    // no request -> observed languages (with the en quirk applied on top)
    assert(Languages.objectLanguages(None, Seq("de", "en")) === Seq("de", "en", "dbpedia"))
  }
}
