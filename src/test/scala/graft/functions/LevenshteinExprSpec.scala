package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** [[LevenshteinBoundedExpr]] — the kernel-vs-builtin discipline for the
  * bit-parallel Myers levenshtein: exact parity against
  * `UTF8String.levenshteinDistance` (both arities) across ASCII,
  * multi-byte UTF-8, in-bounds invalid bytes, empties, the one-word
  * boundary (64/65 chars), long-text/short-pattern shapes, and the full
  * threshold edge matrix (d−1, d, d+1, 0, negative). An independent
  * O(nm) code-point DP triangulates (kernel == builtin == textbook), so
  * the parity can't be two engines sharing one bug.
  */
class LevenshteinExprSpec extends SparkSpec {

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  /** Textbook DP over CODE POINTS — the independent reference. */
  private def dpRef(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    val prev = new Array[Int](y.length + 1)
    val cur = new Array[Int](y.length + 1)
    for (j <- 0 to y.length) prev(j) = j
    for (i <- 1 to x.length) {
      cur(0) = i
      for (j <- 1 to y.length) {
        val cost = if (x(i - 1) == y(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
      }
      Array.copy(cur, 0, prev, 0, y.length + 1)
    }
    prev(y.length)
  }

  private def checkPair(a: String, b: String): Unit = {
    val ua = u(a)
    val ub = u(b)
    val builtin = ua.levenshteinDistance(ub)
    val kernel = LevenshteinKernel.distance(ua, ub)
    assert(kernel === builtin, s"full: '$a' vs '$b'")
    assert(kernel === dpRef(a, b), s"dp: '$a' vs '$b'")
    // threshold edge matrix around the true distance
    for (th <- Seq(-1, 0, builtin - 1, builtin, builtin + 1, 16, 64, 1000)) {
      val bb = ua.levenshteinDistance(ub, th)
      val kb = LevenshteinKernel.distanceBounded(ua, ub, th)
      assert(kb === bb, s"bounded(th=$th): '$a' vs '$b' kernel $kb builtin $bb")
    }
  }

  test("parity on random ASCII pairs and random-edit near-dups") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefgh 0123"
    def randStr(len: Int): String =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // independent random pairs (far distances)
    for (_ <- 0 until 60)
      checkPair(randStr(rnd.nextInt(70)), randStr(rnd.nextInt(70)))
    // near-dup shapes: k random edits of a shared base (the q108 regime)
    for (_ <- 0 until 60) {
      val base = randStr(10 + rnd.nextInt(54))
      var edited = base
      for (_ <- 0 until rnd.nextInt(8)) {
        val pos = rnd.nextInt(edited.length + 1)
        rnd.nextInt(3) match {
          case 0 => edited = edited.patch(pos, Seq(alpha(rnd.nextInt(alpha.length))), 0)
          case 1 if edited.nonEmpty =>
            edited = edited.patch(math.min(pos, edited.length - 1), Nil, 1)
          case _ if edited.nonEmpty =>
            edited = edited.updated(math.min(pos, edited.length - 1), alpha(rnd.nextInt(alpha.length)))
          case _ =>
        }
      }
      checkPair(base, edited)
    }
  }

  test("parity on multi-byte UTF-8 (2/3/4-byte code points, combining marks)") {
    val rnd = new scala.util.Random(7)
    // 1-byte, 2-byte, 3-byte, 4-byte points + a combining accent
    val pool = Seq("a", "z", "é", "ß", "中", "界", "́", new String(Character.toChars(0x1F600)), new String(Character.toChars(0x1F680)))
    def randStr(len: Int): String =
      (0 until len).map(_ => pool(rnd.nextInt(pool.length))).mkString
    for (_ <- 0 until 80)
      checkPair(randStr(rnd.nextInt(40)), randStr(rnd.nextInt(40)))
    // mixed ascii-pattern/multibyte-text (the ASCII fast path's eq=0 arm)
    checkPair("hello", "héllo")
    checkPair("abc", "中文界")
    checkPair("", "😀")
  }

  test("parity at the one-word boundary and on the fallback path") {
    val rnd = new scala.util.Random(3)
    def randStr(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    // n = 63, 64 (sign bit), 65 (builtin fallback)
    for (n <- Seq(63, 64, 65); m <- Seq(n, n + 1, n + 40, 200))
      checkPair(randStr(n), randStr(m))
    // short pattern, long text: Myers with a 300-char walk
    checkPair(randStr(10), randStr(300))
    // both long: pure fallback routing
    checkPair(randStr(120), randStr(130))
  }

  test("parity on empties, equal strings, and in-bounds invalid UTF-8") {
    checkPair("", "")
    checkPair("", "abc")
    checkPair("same64" * 8, "same64" * 8)
    // invalid bytes whose claimed lengths stay IN BOUNDS: a bare
    // continuation byte (walks 1), and 0xC3 followed by two more bytes
    // (claims 2, consumes the next byte — both walks agree)
    val cont = UTF8String.fromBytes(Array[Byte]('a', 0x80.toByte, 'b'))
    val twoB = UTF8String.fromBytes(Array[Byte](0xC3.toByte, 'x', 'y'))
    val plain = u("axy")
    for ((x, y) <- Seq((cont, twoB), (cont, plain), (twoB, plain), (cont, cont))) {
      assert(LevenshteinKernel.distance(x, y) === x.levenshteinDistance(y),
        s"invalid-bytes full: $x vs $y")
      for (th <- Seq(0, 1, 2, 3))
        assert(LevenshteinKernel.distanceBounded(x, y, th) ===
          x.levenshteinDistance(y, th), s"invalid-bytes th=$th: $x vs $y")
    }
    // truncated multi-byte TAIL (0xC3 claiming 2 with 1 remaining): the
    // builtin's read is undefined (unclamped) — assert only the kernel's
    // documented clamped semantics: deterministic, in-range, symmetric
    val trunc = UTF8String.fromBytes(Array[Byte]('a', 0xC3.toByte))
    val d1 = LevenshteinKernel.distance(trunc, u("ab"))
    assert(d1 === LevenshteinKernel.distance(trunc, u("ab")))
    assert(d1 >= 0 && d1 <= 2)
  }

  test("expression: nulls propagate, matches Spark, literal inputs") {
    val spark2 = spark
    import spark2.implicits._
    import LevenshteinBoundedExpr.graft_levenshtein
    val df = Seq(
      ("kitten", "sitting"),
      ("flaw", "lawn"),
      (null, "x"),
      ("x", null),
      (null, null)).toDF("a", "b").repartition(2)
    val got = df.select(
        graft_levenshtein(col("a"), col("b")).as("d"),
        graft_levenshtein(col("a"), col("b"), 2).as("db"),
        levenshtein(col("a"), col("b")).as("sd"),
        levenshtein(col("a"), col("b"), 2).as("sdb"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(2))
      if (!r.isNullAt(0)) assert(r.getInt(0) === r.getInt(2))
      assert(r.isNullAt(1) === r.isNullAt(3))
      if (!r.isNullAt(1)) assert(r.getInt(1) === r.getInt(3))
    }
    assert(got.count(_.isNullAt(0)) === 3)
    // literal inputs
    val viaLit = spark.range(1).select(
      graft_levenshtein(lit("kitten"), lit("sitting")),
      graft_levenshtein(lit("kitten"), lit("sitting"), 2)).collect().head
    assert(viaLit.getInt(0) === 3)
    assert(viaLit.getInt(1) === -1)
  }

  test("scratch reuse is iteration-safe across rows in one task") {
    // many rows through ONE partition exercise the thread-local tables'
    // reset-per-call contract (stale Peq bits would corrupt later rows)
    val spark2 = spark
    import spark2.implicits._
    import LevenshteinBoundedExpr.graft_levenshtein
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map { _ =>
      val a = (0 until rnd.nextInt(64)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      val b = if (rnd.nextBoolean()) a + "x" else ("é" * rnd.nextInt(30))
      (a, b)
    }
    val got = rows.toDF("a", "b").coalesce(1)
      .select(col("a"), col("b"), graft_levenshtein(col("a"), col("b")).as("d"))
      .collect()
    got.foreach { r =>
      val want = u(r.getString(0)).levenshteinDistance(u(r.getString(1)))
      assert(r.getInt(2) === want, s"'${r.getString(0)}' vs '${r.getString(1)}'")
    }
  }
}
