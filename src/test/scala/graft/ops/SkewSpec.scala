package graft.ops

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  test("salted join produces the same result as a plain join") {
    val spark2 = spark
    import spark2.implicits._
    // skewed: 90% of rows share key 1
    val large = (1 to 200).map(i => (if (i <= 180) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (190L, "cold")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
    val salted = Skew.saltedJoin(large, small, "k", factor = 4, entropyCols = Seq("v"))
      .select("k", "v", "name")
    assert(salted.collect().sortBy(r => (r.getLong(0), r.getInt(1))) ===
      plain.collect().sortBy(r => (r.getLong(0), r.getInt(1))))
  }
}
