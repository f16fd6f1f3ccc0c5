package graft

import graft.io.Ttl
import graft.ops.TopK
import graft.ops.ext.{Dedup, TextStats}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants using raw scalacheck generators (the
  * scalatest bridge artifact is not in the offline cache). Each property
  * samples N generated cases deterministically (fixed seeds) — each case
  * runs a Spark job, so N stays small. */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val uriGen = Gen.alphaNumStr.suchThat(_.nonEmpty).map(s => s"<http://x/$s>")
  private val litGen = Gen.alphaNumStr.map(s => "\"" + s + " tail\"")
  private val tripleGen = for {
    s <- uriGen; p <- uriGen; o <- Gen.oneOf(uriGen, litGen)
  } yield (s, p, o)

  test("property: ttl parse round-trips arbitrary well-formed triples") {
    val spark2 = spark
    import spark2.implicits._
    samples(Gen.listOfN(5, tripleGen), 5).filter(_.nonEmpty).foreach { ts =>
      val lines = ts.map { case (s, p, o) => s"$s $p $o ." }.toDF("value")
      val parsed = Ttl.parse(lines).collect().map(t => (t.s, t.p, t.o)).toSeq
      assert(parsed.sorted === ts.sorted, s"for $ts")
    }
  }

  test("property: topKPerGroup keeps <=k rows per group, counts non-increasing in rank") {
    val spark2 = spark
    import spark2.implicits._
    val rowsGen = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(1, 4)))
    samples(rowsGen, 4).filter(_.nonEmpty).foreach { rows =>
      val df = rows.map { case (g, v) => (g, s"p$v") }.toDF("lang", "p")
      val top = TopK.topKPerGroup(df, Seq(col("lang")), Seq(col("p")), k = 2)
        .select("lang", "count", "k").as[(String, Long, Int)].collect()
      top.groupBy(_._1).foreach { case (g, rs) =>
        assert(rs.length <= 2, s"group $g of $rows")
        val byRank = rs.sortBy(_._3).map(_._2)
        assert(byRank.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
          s"counts not non-increasing in $g: ${byRank.toSeq}")
      }
    }
  }

  test("property: jaccard of a text with itself is 1; with disjoint text is 0") {
    val spark2 = spark
    import spark2.implicits._
    val wordsGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
    samples(wordsGen, 5).foreach { words =>
      val text = words.mkString(" ")
      val (self, disjoint) = Seq((text, text, "zz ww")).toDF("x", "y", "z")
        .select(
          Dedup.jaccard(Dedup.tokens(col("x")), Dedup.tokens(col("y"))),
          Dedup.jaccard(Dedup.tokens(col("x")), Dedup.tokens(col("z"))))
        .as[(Double, Double)].head()
      assert(self === 1.0)
      assert(disjoint === 0.0)
    }
  }

  test("property: subword count is in [1, n_chars] for non-blank alphanumeric text") {
    val spark2 = spark
    import spark2.implicits._
    samples(Gen.alphaNumStr.suchThat(_.trim.nonEmpty), 8).foreach { text =>
      val n = Seq(text).toDF("text")
        .select(TextStats.subwordCount(col("text"))).as[Int].head()
      assert(n >= 1 && n <= text.length, s"for '$text'")
    }
  }

  test("property: asOf agrees with the naive per-row maximum computation") {
    val spark2 = spark
    import spark2.implicits._
    val leftGen = Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))
    val rightGen = Gen.listOfN(6, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))
    samples(Gen.zip(leftGen, rightGen), 4).foreach { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
        .toDF("k", "ts", "row_id")
      // dedupe right per (k, ts) like real callers must (ties are
      // engine-arbitrary otherwise)
      val rightRows = rs.groupBy(identity).keys.toSeq
      val right = rightRows.map { case (k, ts) => (k, ts, ts * 10) }
        .toDF("k", "rts", "v")
      val got = graft.ops.AsOfJoin.asOf(left, right, "k", "ts", "rts", Seq("v"))
        .select("row_id", "asof_v").as[(Long, Option[Long])]
        .collect().toMap
      ls.zipWithIndex.foreach { case ((k, ts), i) =>
        val expected = rightRows.filter { case (rk, rts) => rk == k && rts <= ts }
          .sortBy(_._2).lastOption.map(_._2 * 10)
        assert(got(i.toLong) === expected, s"row $i key $k ts $ts of left=$ls right=$rightRows")
      }
    }
  }

  test("property: token-hash kernels match interpreted forms on random unicode text") {
    val spark2 = spark
    import spark2.implicits._
    // atoms mix ASCII words, every ASCII whitespace char (incl. runs and
    // leading/trailing placement), multi-byte code points and emoji —
    // the tokenization quirks the kernels must reproduce exactly
    val atomGen = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(4)),
      3 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t "),
      2 -> Gen.oneOf("é", "ü", "ß", "日本", "語", "😀", "🎉"),
      1 -> Gen.const(""))
    val texts = samples(Gen.listOfN(12, atomGen).map(_.mkString), 24).distinct
    val rows = texts.toDF("text").select(
      col("text"),
      Dedup.minhash(Dedup.tokens(col("text")), 0).as("i0"),
      element_at(graft.functions.TokenMinhashExpr.token_minhash(col("text"), 2), 1).as("k0"),
      Dedup.minhash(Dedup.tokens(col("text")), 1).as("i1"),
      element_at(graft.functions.TokenMinhashExpr.token_minhash(col("text"), 2), 2).as("k1"),
      Dedup.simhash(Dedup.tokens(col("text"))).as("is"),
      graft.functions.SimhashExpr.simhash(col("text")).as("ks"),
      array_distinct(transform(Dedup.tokens(col("text")),
        w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))).as("it"),
      graft.functions.TokenHashSetExpr.token_hash_set(col("text")).as("kt"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) === r.getString(2), s"minhash seed 0 for '$t'")
      assert(r.getString(3) === r.getString(4), s"minhash seed 1 for '$t'")
      assert(r.getLong(5) === r.getLong(6), s"simhash for '$t'")
      assert(r.getSeq[Long](7) === r.getSeq[Long](8), s"token set for '$t'")
    }
  }

  test("property: count kernels match interpreted forms on random unicode text") {
    val spark2 = spark
    import spark2.implicits._
    val atomGen = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(4)),
      3 -> Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t "),
      2 -> Gen.oneOf("é", "ü", "ß", "日本", "語", "😀", "🎉", "A-Z.az"),
      1 -> Gen.const(""))
    val texts = samples(Gen.listOfN(12, atomGen).map(_.mkString), 24).distinct
    val rows = texts.toDF("text").select(
      col("text"),
      size(split(trim(col("text")), "\\s+")).as("itc"),
      graft.functions.TokenCountExpr.token_count(col("text")).as("ktc"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("iac"),
      graft.functions.AlphaCountExpr.alpha_count(col("text")).as("kac"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getInt(1) === r.getInt(2), s"token count for '$t'")
      assert(r.getInt(3) === r.getInt(4), s"alpha count for '$t'")
    }
  }

  test("property: dot kernel equals the interpreted double fold on random float vectors") {
    val spark2 = spark
    import spark2.implicits._
    val vecGen = for {
      n <- Gen.choose(0, 24)
      v <- Gen.listOfN(n, Gen.choose(-1000, 1000).map(_ / 7.0f))
    } yield v
    val pairs = samples(Gen.zip(vecGen, vecGen), 30)
    val rows = pairs.toDF("a", "b").select(
      graft.functions.DotProductExpr.dot_product(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("i"))
      .as[(Option[Double], Option[Double])].collect()
    rows.foreach { case (k, i) => assert(k === i) } // exact, incl. mismatch->null
  }

  test("property: n-gram hash kernel matches the interpreted composition on random unicode text") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.Contamination
    val atomGen = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(4)),
      3 -> Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t "),
      2 -> Gen.oneOf("é", "ü", "ß", "日本", "語", "😀", "🎉"),
      1 -> Gen.const(""))
    val texts = samples(Gen.listOfN(14, atomGen).map(_.mkString), 20).distinct
    for (n <- Seq(1, 2, 4)) {
      val rows = texts.toDF("text").select(
        col("text"),
        transform(Contamination.tokenNgrams(col("text"), n),
          ng => conv(substring(md5(ng), 1, 15), 16, 10).cast("long")).as("i"),
        graft.functions.TokenNgramHashExpr.token_ngram_hashes(col("text"), n).as("k"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"n=$n for '${r.getString(0)}'")
      }
    }
  }

  test("property: sorted intersect count equals array_intersect size on random sets") {
    val spark2 = spark
    import spark2.implicits._
    val setGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    val pairGen = Gen.zip(setGen, setGen)
    samples(Gen.listOfN(12, pairGen), 4).filter(_.nonEmpty).foreach { pairs =>
      val rows = pairs.toDF("a", "b").select(
        size(array_intersect(col("a"), col("b"))).as("i"),
        graft.functions.SortedIntersectCountExpr
          .sorted_intersect_count(col("a"), col("b")).as("k"))
        .as[(Int, Int)].collect()
      rows.zip(pairs).foreach { case ((i, k), p) => assert(i === k, s"for $p") }
    }
  }

  test("property: minhash signature equality is permutation-invariant") {
    val spark2 = spark
    import spark2.implicits._
    val wordsGen = Gen.nonEmptyListOf(Gen.oneOf("p", "q", "r", "s", "t"))
    samples(wordsGen, 5).foreach { words =>
      val docs = Seq((1L, words.mkString(" ")), (2L, scala.util.Random.shuffle(words).mkString(" ")))
        .toDF("doc_id", "text")
      val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
        .select("mh0", "mh1").as[(String, String)].collect()
      assert(sig(0) === sig(1), s"for $words")
    }
  }

  test("property: connected components agree with driver-side union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val n = 20
    val edgesGen = Gen.listOfN(15, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      .map(_.filter { case (a, b) => a != b })
    samples(edgesGen, 4).foreach { edges =>
      // oracle: plain union-find over the same edges
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n.toInt).map(i => (i.toLong, find(i).toLong))
      // BOTH engines: driverFinishMaxEdges 0 pins the distributed rounds
      // (the default would route a fixture this small to the in-engine
      // union-find, making the comparison near-tautological)
      for (dm <- Seq(graft.ops.ext.Components.DriverFinishMaxEdges, 0L)) {
        val got = graft.ops.ext.Components.connectedComponents(
            (0L until n).toDF("id"), edges.toDF("id_a", "id_b"),
            driverFinishMaxEdges = dm)
          .as[(Long, Long)].collect().sortBy(_._1)
        // min-label CC converges to the min vertex id per component —
        // identical to union-find with min-root merging
        assert(got.toSeq === expected, s"for edges $edges, driverMax=$dm")
      }
    }
  }

  test("property: exact-substring spans match the brute-force oracle") {
    val spark2 = spark
    import spark2.implicits._
    val k = 3
    // tiny vocabulary forces genuine duplicated k-grams
    val docGen = Gen.listOfN(4,
      Gen.choose(3, 10).flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))
    samples(docGen, 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      // brute force: count every k-window string corpus-wide, keep
      // positions of repeated ones, merge islands with start gap <= k
      val windows = docs.flatMap { case (id, text) =>
        val t = text.trim.split("\\s+")
        (0 to t.length - k).map(i => (id, i + 1L, t.slice(i, i + k).mkString(" ")))
      }
      val counts = windows.groupBy(_._3).map { case (w, os) => (w, os.size) }
      val expected = windows.filter(w => counts(w._3) >= 2)
        .groupBy(_._1).toSeq.flatMap { case (id, ws) =>
          val sorted = ws.map(_._2).sorted
          val islands = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, p) =>
            if (p - acc.head.head <= k) (p :: acc.head) :: acc.tail
            else List(p) :: acc
          }
          islands.map(is => (id, is.min, is.max + (k - 1)))
        }.sorted
      val got = graft.ops.ext.ExactSubstr.duplicatedSpans(
          docs.toDF("doc_id", "text"), col("text"), k = k)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got === expected, s"for docs $docs")
    }
  }

  test("property: trimSpans keeps exactly the uncovered token positions") {
    val spark2 = spark
    import spark2.implicits._
    val k = 3
    val docGen = Gen.listOfN(4,
      Gen.choose(3, 10).flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))
    samples(docGen, 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")
      val spans = graft.ops.ext.ExactSubstr.duplicatedSpans(df, col("text"), k = k)
      val spanMap = spans.as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toSeq).toMap
      // brute force: keep token i+1 iff no span of ITS document covers it
      val expected = docs.map { case (id, text) =>
        val toks = text.trim.split("\\s+")
        val kept = toks.zipWithIndex.collect {
          case (t, i) if !spanMap.getOrElse(id, Seq.empty)
            .exists { case (s, e) => i + 1 >= s && i + 1 <= e } => t
        }
        (id, kept.mkString(" "))
      }.sortBy(_._1)
      val got = graft.ops.ext.ExactSubstr.trimSpans(df, col("text"), spans)
        .select(col("doc_id"), col("text_trimmed"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      assert(got === expected, s"for docs $docs spans $spanMap")
    }
  }

  test("property: distributed token shards equal the window cumsum on random data") {
    val spark2 = spark
    import spark2.implicits._
    val rowsGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("en", "de"), Gen.choose(1L, 50L)))
    samples(rowsGen, 3).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((lang, tok), i) => (i.toLong, lang, tok) }
        .toDF("doc_id", "lang", "n_tok")
      val expect = graft.ops.ext.Packing
        .tokenShardsWindow(df, "doc_id", "lang", "n_tok", budget = 60)
        .select("id", "running", "shard").as[(Long, Long, Long)]
        .collect().sortBy(_._1)
      val got = graft.ops.ext.Packing
        .tokenShards(df, "doc_id", "lang", "n_tok", budget = 60, partitions = 5)
        .select("id", "running", "shard").as[(Long, Long, Long)]
        .collect().sortBy(_._1)
      assert(got.toSeq === expect.toSeq, s"for $rows")
    }
  }

  test("property: ksDistance ppm tracks the real-valued KS within floor error") {
    val spark2 = spark
    import spark2.implicits._
    import graft.pipeline.Reports
    val bins = 8
    val rowsGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 11L))) // values cap into bin 7
    samples(rowsGen, 4).foreach { rows =>
      // every group must be non-empty for the reference below
      val all = rows ++ Seq(("a", 0L), ("b", 0L), ("c", 0L))
      val out = Reports.ksDistance(all.toDF("g", "v"), col("v"), col("g"),
        bins = bins, binWidth = 1L)
      val got = out.as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      graft.core.Checkpoints.release(out)
      // double-precision reference over the SAME binning
      def cdf(g: String): Array[Double] = {
        val vs = all.filter(_._1 == g).map(t => math.min(bins - 1L, t._2))
        val counts = Array.tabulate(bins)(b => vs.count(_ == b).toDouble)
        counts.scanLeft(0.0)(_ + _).tail.map(_ / vs.size)
      }
      for (ga <- Seq("a", "b"); gb <- Seq("b", "c") if ga < gb) {
        val ref = cdf(ga).zip(cdf(gb)).map { case (x, y) => math.abs(x - y) }.max
        val ppm = got((ga, gb))
        // per-bin CDF floor error < 1 ppm each side -> |diff| within 2 ppm
        assert(math.abs(ppm - ref * 1e6) <= 2.0, s"($ga,$gb): $ppm vs $ref for $all")
        assert(ppm >= 0L && ppm <= 1000000L)
      }
    }
  }

  test("property: cohenKappa ppm tracks the real-valued kappa within floor error") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    val pairGen = Gen.listOfN(25, Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false)))
    samples(pairGen, 5).foreach { pairs =>
      val r = TextStats.cohenKappa(pairs.toDF("ra", "rb"), col("ra"), col("rb"))
        .collect().head
      val n = pairs.size.toDouble
      val po = pairs.count(p => p._1 == p._2) / n
      val pa = pairs.count(_._1) / n
      val pb = pairs.count(_._2) / n
      val pe = pa * pb + (1 - pa) * (1 - pb)
      assert(math.abs(r.getLong(1) - po * 1e6) <= 1.0, s"po for $pairs")
      assert(math.abs(r.getLong(2) - pe * 1e6) <= 3.0, s"pe for $pairs") // two floored ppm products
      if (pe < 1.0 - 1e-9) {
        val kappa = (po - pe) / (1 - pe)
        // ppm po/pe carry up to ~3 ppm of floor error each; the division
        // amplifies by 1/(1-pe) — bound loosely, the exactness contract
        // is the engine-vs-oracle hash, not this float cross-check
        val tol = 3.0 + 8.0 / math.max(1e-6, 1 - pe)
        assert(math.abs(r.getLong(3) - kappa * 1e6) <= tol,
          s"kappa ${r.getLong(3)} vs ${kappa * 1e6} for $pairs")
      } else assert(r.isNullAt(3), s"pe=1 must yield NULL kappa for $pairs")
    }
  }

  test("property: ece/calibrationBins track the real-valued ECE within floor error") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    // confidences wander OUT of [0, 1e6] on purpose — the clamp is part
    // of the contract the reference mirrors
    val rowsGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(-200000L, 1300000L), Gen.oneOf(0L, 1L)))
    samples(rowsGen, 5).foreach { rows =>
      val df = rows.toDF("conf", "y")
      val e = TextStats.eceFromBins(
          TextStats.calibrationBins(df, col("conf"), col("y"), bins = 10))
        .as[(Long, Long, Long, Long)].collect().head
      // double-precision reference over the SAME clamped binning
      val clamped = rows.map { case (c, y) =>
        (math.min(math.max(c, 0L), 1000000L), y) }
      val byBin = clamped.groupBy { case (c, _) => math.min(c / 100000L, 9L) }
      val gaps = byBin.values.map { g =>
        val n = g.size.toDouble
        val avg = g.map(_._1).sum / n
        val acc = 1e6 * g.map(_._2).sum / n
        (g.size.toLong, math.abs(avg - acc))
      }
      val refEce = gaps.map { case (n, gap) => n * gap }.sum / rows.size
      val refMce = gaps.map(_._2).max
      assert(e._1 === rows.size.toLong)
      assert(e._2 === byBin.size.toLong)
      // per-bin avg/acc each floor <= 1 ppm -> gap within 2; the
      // n-weighted fold and the mce add one more floor each
      assert(math.abs(e._3 - refEce) <= 3.0, s"ece ${e._3} vs $refEce for $rows")
      assert(math.abs(e._4 - refMce) <= 2.0, s"mce ${e._4} vs $refMce for $rows")
    }
  }

  test("property: kendallTau ppm equals the brute-force tau-a on random rankings") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.Ranking
    val k = 8
    def permOf(n: Int): Gen[Seq[Int]] =
      Gen.listOfN(n * 4, Gen.choose(0, 1 << 20)).map(keys =>
        (0 until n).sortBy(i => keys(i)))
    val permGen = Gen.zip(permOf(k), permOf(k))
    samples(permGen, 6).foreach { case (pa, pb) =>
      val a = pa.zipWithIndex.map { case (d, i) => (1L, d.toLong, (i + 1).toLong) }
        .toDF("query_id", "doc_id", "rnk")
      val b = pb.zipWithIndex.map { case (d, i) => (1L, d.toLong, (i + 1).toLong) }
        .toDF("query_id", "doc_id", "rnk")
      val r = Ranking.kendallTau(a, b, "doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().head
      // brute force over all unordered pairs of the k common docs
      val ra = pa.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      val rb = pb.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
      val sgns = pairs.map { case (i, j) =>
        (ra(i) - ra(j)).sign * (rb(i) - rb(j)).sign }
      val c = sgns.count(_ > 0); val d = sgns.count(_ < 0)
      assert(r._2 === pairs.size.toLong)
      assert(r._3 === c.toLong && r._4 === d.toLong, s"$pa vs $pb")
      // the pmod-div form is EXACT floor division — equality, not tolerance
      assert(r._5 === Math.floorDiv((c - d) * 1000000L, pairs.size.toLong))
    }
  }

  test("property: krippendorffAlpha ppm tracks the real-valued statistic") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    // nullable tri-rater rows: 0=false, 1=true, 2=missing
    val rowsGen = Gen.listOfN(20,
      Gen.listOfN(3, Gen.choose(0, 2)).map(l => (l(0), l(1), l(2))))
    samples(rowsGen, 5).foreach { rows =>
      def dec(v: Int): Option[Boolean] = if (v == 2) None else Some(v == 1)
      val df = rows.map { case (a, b, c) => (dec(a), dec(b), dec(c)) }
        .toDF("ra", "rb", "rc")
      val r = TextStats.krippendorffAlpha(df, Seq(col("ra"), col("rb"), col("rc")))
        .collect().head
      // double-precision reference on the same pairable set
      val items = rows.map { case t =>
        val vs = Seq(t._1, t._2, t._3).filter(_ != 2)
        (vs.count(_ == 1), vs.size)
      }.filter(_._2 >= 2)
      val n = items.map(_._2).sum.toDouble
      assert(r.getLong(0) === n.toLong)
      if (n >= 2) {
        val t = items.map(_._1).sum.toDouble
        val dObs = items.map { case (x, ni) =>
          2.0 * x * (ni - x) / (ni - 1) }.sum / n
        val dExp = 2.0 * t * (n - t) / (n * (n - 1))
        assert(math.abs(r.getLong(1) - dObs * 1e6) <= items.size + 1.0, s"do for $rows")
        assert(math.abs(r.getLong(2) - dExp * 1e6) <= 3.0, s"de for $rows")
        if (dExp > 1e-9) {
          val alpha = 1.0 - dObs / dExp
          // do/de each carry floor error; the division amplifies by 1/de
          val tol = 3.0 + (items.size + 4.0) / math.max(1e-6, dExp)
          assert(math.abs(r.getLong(3) - alpha * 1e6) <= tol,
            s"alpha ${r.getLong(3)} vs ${alpha * 1e6} for $rows")
        } else assert(r.isNullAt(3), s"de=0 must yield NULL alpha for $rows")
      }
    }
  }

  test("property: fleissKappa ppm tracks the real-valued statistic within floor error") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    val m = 3
    val itemsGen = Gen.listOfN(20, Gen.choose(0, m)) // true-vote counts
    samples(itemsGen, 5).foreach { xs =>
      val df = xs.map(x => (x >= 1, x >= 2, x >= 3)).toDF("ra", "rb", "rc")
      val r = TextStats.fleissKappa(df, Seq(col("ra"), col("rb"), col("rc")))
        .collect().head
      val n = xs.size.toDouble
      val po = xs.map(x => (x * (x - 1) + (m - x) * (m - x - 1)).toDouble /
        (m * (m - 1))).sum / n
      val pt = xs.sum / (n * m)
      val pe = pt * pt + (1 - pt) * (1 - pt)
      assert(r.getLong(1) === m.toLong)
      assert(math.abs(r.getLong(2) - po * 1e6) <= 1.0, s"po for $xs")
      assert(math.abs(r.getLong(3) - pe * 1e6) <= 3.0, s"pe for $xs")
      if (pe < 1.0 - 1e-9) {
        val kappa = (po - pe) / (1 - pe)
        val tol = 3.0 + 8.0 / math.max(1e-6, 1 - pe)
        assert(math.abs(r.getLong(4) - kappa * 1e6) <= tol,
          s"kappa ${r.getLong(4)} vs ${kappa * 1e6} for $xs")
      } else assert(r.isNullAt(4), s"pe=1 must yield NULL kappa for $xs")
    }
  }

  test("property: levenshtein kernel matches the builtin on random unicode pairs") {
    import org.apache.spark.unsafe.types.UTF8String
    // pairs built by EDITING a shared base (the near-dup regime) plus
    // independent pairs; atoms mix ASCII, multi-byte and emoji so the
    // general (hashed-Peq) path and the ASCII path both fire
    val atomGen = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(3)),
      2 -> Gen.oneOf("é", "ß", "中", "😀"),
      1 -> Gen.const(" "))
    val strGen = Gen.listOfN(18, atomGen).map(_.mkString.take(70))
    val pairGen = Gen.zip(strGen, strGen, Gen.choose(0, 20))
    samples(pairGen, 60).foreach { case (a, b, th) =>
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      assert(graft.functions.LevenshteinKernel.distance(ua, ub) ===
        ua.levenshteinDistance(ub), s"full '$a' vs '$b'")
      assert(graft.functions.LevenshteinKernel.distanceBounded(ua, ub, th) ===
        ua.levenshteinDistance(ub, th), s"bounded($th) '$a' vs '$b'")
    }
  }

  test("property: token_stats kernel matches the interpreted triple on random unicode text") {
    val spark2 = spark
    import spark2.implicits._
    val atomGen = Gen.frequency(
      6 -> Gen.oneOf("the", "a", "dup", "x", "yz"),
      3 -> Gen.oneOf(" ", "\t", "\n", "  ", " \t "),
      2 -> Gen.oneOf("é", "日本", "😀"),
      1 -> Gen.const(""))
    val texts = samples(Gen.listOfN(14, atomGen).map(_.mkString), 24).distinct
    val rows = texts.toDF("text").select(
        graft.functions.TokenStatsExpr.token_stats(col("text")).as("k"),
        TextStats.tokenStatsInterpreted(col("text")).as("i"))
      .collect()
    rows.foreach { r =>
      assert(r.getStruct(0).toSeq === r.getStruct(1).toSeq,
        s"kernel ${r.getStruct(0)} vs interpreted ${r.getStruct(1)}")
    }
  }
}
